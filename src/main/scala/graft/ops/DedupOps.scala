package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact, MinHash+LSH banded
  * near-dup, SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every variant is built around hash-bucket joins — there is
  * NO all-pairs comparison anywhere. Exact dedup is one groupBy on a 256-bit
  * hash; MinHash/LSH compares only documents that collide in a band bucket;
  * Jaccard runs only on LSH candidate pairs. At 100 TB each stage is a
  * single hash shuffle keyed by (hash | band), which AQE can re-split on
  * skew.
  *
  * Portability: the base hash is the first 60 bits of sha256 (identical in
  * any engine), and MinHash permutations are `(a·h + b) mod p` over
  * `p = 2^31-1` in plain int64 arithmetic — so signatures, buckets and
  * candidate pairs are oracle-checkable in DuckDB, not just "plausible".
  *
  * == localCheckpoint at cluster scale (the one-place statement) ==
  * Operators here (and in Similarity/TextOps/GraphOps) cut lineage
  * wherever a derived table feeds 2+ consumers or must be severed from its
  * lineage before a skew-sensitive join (CLAUDE.md r4d, r10e).
  * localCheckpoint (the default) stores deserialized partitions in
  * EXECUTOR-LOCAL block storage: on this single-JVM sandbox that is free
  * and correct, but on a real multi-executor cluster those blocks are LOST
  * when an executor dies, failing the job (no lineage to recompute — that
  * is the point of the cut). Cluster deployments pick the alternative via
  * `spark.graft.checkpointMode` ([[Lineage]] — every DedupOps site routes
  * through it, r19): `reliable` = `setCheckpointDir` + `checkpoint()`
  * (HDFS/S3-backed, survives executor loss, costs a write + read);
  * `persist` = MEMORY_AND_DISK + count() barrier (keeps lineage for fault
  * recovery, re-runs the subtree on loss — sound only for the PLAN-shaping
  * uses: duplicate-subtree prevention, AQE skew-split enablement).
  * Explicit materialization to a parquet/Delta temp table remains the
  * right call when a derived table is reused across queries. The
  * drop-in-ness of `reliable` is spec-pinned (CheckpointSwapSpec), not
  * just documented. Each call site's comment states WHY the cut is there;
  * this block states the trade-off once so per-site notes can stay short.
  */
object DedupOps {

  /** Portable 60-bit base hash of a string: `sha256(s)[0,15]` hex → int64. */
  def hash60(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")

  val MersennePrime31 = 2147483647L // 2^31 - 1

  /** Fixed permutation parameters (a, b) for the MinHash family — odd
    * multipliers, deterministic, engine-independent. */
  def permParams(n: Int): Seq[(Long, Long)] =
    (0 until n).map(i => (2L * i + 3, 12289L * (i + 1)))

  /** Exact dedup by content hash: canonical representative = min(id) per
    * hash. One partial-aggregated groupBy; returns (hash, keep_id, copies).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Survivors of exact dedup (the deduplicated corpus). */
  def exactDedupSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exactDedup(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Word k-shingles of the normalized text (k consecutive tokens joined by
    * a space); the whole normalized text when the document has fewer than k
    * tokens.
    *
    * NOTE: fine for small inputs/tests, but `element_at` inside the lambda
    * re-evaluates the tokenization chain per element on Spark's interpreted
    * HOF path — the hot-path pipeline uses [[shingleArrays]] instead. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array(TextOps.normalize(text)))
  }

  /** One row per 3-token shingle: (idCol, _h) where `_h` is the portable
    * shingle hash in [0, 2^31-1); documents under 3 tokens get the
    * whole-normalized-text hash as their single row.
    *
    * Shape, chosen by measurement at sf0.1 — the constraint is keeping the
    * tokenizer and sha2 on the whole-stage-codegen path and evaluated once:
    *  - the token array is materialized per document in the projection
    *    UNDER the Generate (a Generate is a CollapseProject barrier, so
    *    nothing re-inlines the tokenizer into per-element accesses);
    *  - the Generate explodes a plain index sequence; shingle text + hash
    *    are then FLAT column expressions (`element_at` against the bound
    *    array attribute) — no HOF lambdas (interpreted: 6-18 s), no window
    *    (WindowExec: 7-10 s), no self-joins (each side re-evaluates the
    *    hash subtree: 8-9 s). This shape runs ~1 s;
    *  - the up-front repartition parallelizes small single-row-group files
    *    (parquet cannot split them) and pre-clusters by doc id for the
    *    downstream signature groupBy. */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val P = MersennePrime31
    // r18: the per-OCCURRENCE `sha2 → hex → conv → %` expression chain is
    // now ONE JVM loop per doc ([[graft.expressions.ShingleHashes]], same
    // shared hash core as winnow_mins/minhash_sigs — values bit-identical,
    // oracles unchanged); the explode carries ready longs instead of
    // re-deriving each shingle's hash from element_at+concat_ws+sha2
    // string machinery per position. The when() keeps the whole-doc-hash
    // fallback for under-3-token docs (one row, `_doc_h`).
    val sh = ColumnGlue.column(graft.expressions.ShingleHashes(
      ColumnGlue.expression(col("_toks"))))
    df.repartition(col(idCol))
      .select(col(idCol),
        (hash60(TextOps.normalize(col(textCol))) % P).as("_doc_h"),
        TextOps.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(when(size(col("_toks")) >= 3, sh)
          .otherwise(array(col("_doc_h")))).as("_h"))
  }

  /** [[shingleHashRows]] with the per-document dedup made ROW-LOCAL
    * (r18; round-9 rule b applied to shingles): `array_distinct` runs on
    * the per-doc hash array BEFORE the explode, so consumers needing
    * per-doc distinct (id, _h) rows get them with ZERO extra exchange —
    * the old `.select(id, _h).distinct()` shuffled every occurrence on a
    * near-unique (doc, shingle) key just to collapse within-doc repeats,
    * which are row-local by definition. Cross-doc rows are already
    * distinct because the id differs. */
  def shingleHashRowsDistinctPerDoc(df: DataFrame, idCol: String,
                                    textCol: String,
                                    repartitionById: Boolean = true): DataFrame = {
    // repartitionById = false for consumers that never group by the doc id
    // downstream (e.g. decontaminate's test side, which goes straight to a
    // global _h distinct): the id pre-clustering buys nothing there and the
    // corpus-text exchange is pure cost (measured at sf1.0, DecontamProf
    // both orders: 1.4-1.7 -> 1.0-1.1 s warm).
    val based = if (repartitionById) df.repartition(col(idCol)) else df
    withPerDocDistinctShingles(based, idCol, textCol)
      .select(col(idCol), explode(col("_hs")).as("_h"))
  }

  /** (id, `_hs`) rows where `_hs` is the per-doc DISTINCT shingle-hash
    * array — `array_distinct` over the native shingle_hashes kernel with
    * the whole-doc-hash fallback for under-3-token docs (never empty).
    * Two-stage select so `_toks`/`_doc_h` are ATTRIBUTES (multi-referenced
    * non-cheap projections stay un-collapsed — r7 rule b). Shared by
    * [[shingleHashRowsDistinctPerDoc]] and decontaminate's map-only fast
    * path. */
  private def withPerDocDistinctShingles(df: DataFrame, idCol: String,
                                         textCol: String): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val P = MersennePrime31
    val sh = ColumnGlue.column(graft.expressions.ShingleHashes(
      ColumnGlue.expression(col("_toks"))))
    df.select(col(idCol),
        (hash60(TextOps.normalize(col(textCol))) % P).as("_doc_h"),
        TextOps.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        when(size(col("_toks")) >= 3, array_distinct(sh))
          .otherwise(array(col("_doc_h"))).as("_hs"))
  }

  /** Distinct shingle-hash set per document (for Jaccard verification) —
    * ROW-LOCAL (r20): `array_sort` over the per-doc distinct array; the
    * old explode + groupBy(id) + collect_set paid an occurrence-scale
    * exchange (plus the shingleHashRows repartition) to rebuild groups
    * each row already holds. */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withPerDocDistinctShingles(df, idCol, textCol)
      .select(col(idCol), array_sort(col("_hs")).as("shset"))

  /** Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003): the
    * minimum shingle hash of every `w`-wide sliding window, deduplicated —
    * the density-guaranteed local fingerprints a plagiarism/span-overlap
    * index stores instead of EVERY shingle (≈ 2/(w+1) of them), with the
    * guarantee that any match of length ≥ w+k−1 tokens shares at least one
    * fingerprint.
    *
    * Shape: the [[shingleHashRows]] doctrine — window starts ride ONE
    * index explode and each row computes the min of its `w` shingle hashes
    * as FLAT codegen'd expressions (`least` skips the nulls of truncated
    * trailing windows). Each shingle hash is recomputed by up to `w`
    * windows; that ×w sha cost is the price of ZERO extra exchanges — no
    * per-position window function, no ordered collect. Documents under
    * k=3 tokens emit their whole-text hash (the shingle fallback), and
    * under w+k−1 tokens a single whole-doc-min fingerprint. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 4): DataFrame = {
    require(w >= 2, "window must cover at least 2 shingles")
    val P = MersennePrime31
    // Native winnow_mins: each shingle hashed exactly ONCE in a JVM loop
    // and the per-doc minima emitted as an already-distinct set, so the
    // explode is minima-scale and needs no distinct() shuffle after it.
    // The former exploded form hashed every shingle once per overlapping
    // window (w× redundant sha256) and distinct()ed position-scale rows
    // (same-run A/B in BENCHNOTES round-10 session-5).
    // No repartition(id) (r19): neither consumer groups by the doc id
    // (dedup_winnow is map output; dedup_winnow_matches groups by the
    // FINGERPRINT) so the id pre-clustering bought nothing and cost a
    // corpus-text exchange; scan parallelism comes from the r18 split-size
    // floor, not a respread.
    df
      .select(col(idCol),
        (hash60(TextOps.normalize(col(textCol))) % P).as("_doc_h"),
        TextOps.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(when(size(col("_toks")) >= 3, expr(s"winnow_mins(_toks, $w)"))
          .otherwise(array(col("_doc_h")))).as("fingerprint"))
  }

  /** MinHash signature: for permutation j, `min over shingles of
    * ((a_j · (h mod p) + b_j) mod p)`. Emitted as `numPerms` columns
    * `sig_0 … sig_{n-1}` — array-free so whole-stage codegen keeps the whole
    * signature computation in one pass over the shingle array. */
  /** Computes (idCol, sig_0..sig_{n-1}).
    *
    * Shape history (each step measured): the naive form — n `withColumn`s
    * over a shared hashed-shingle array — gets re-inlined by
    * CollapseProject so sha256 runs n times per shingle (~50 s at sf0.1);
    * round 4 shipped exploded shingle rows + n partial-aggregated mins
    * (~1 s, one doc-keyed map-side-combined groupBy); round 10 session 5
    * replaces even that with the native `minhash_sigs` expression — the
    * whole signature in one JVM loop per document, MAP-ONLY, the explode
    * and aggregate machinery gone (same-run A/B in BENCHNOTES). The
    * struct is projected ONCE and its fields referenced from a separate
    * select: a multi-referenced non-cheap projection is NOT re-inlined
    * (round-7 rule b), so the hashing runs once per row. The repartition
    * stays: heavy per-row work needs pre-split input (round-4 rule —
    * the docs parquet is one row group). */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numPerms: Int = 8): DataFrame = {
    val P = MersennePrime31
    df.repartition(col(idCol))
      .select(col(idCol),
        (hash60(TextOps.normalize(col(textCol))) % P).as("_doc_h"),
        TextOps.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        expr(s"minhash_sigs(_toks, _doc_h, $numPerms)").as("_sigs"))
      .select(col(idCol) +:
        (0 until numPerms).map(j => col(s"_sigs.sig_$j").as(s"sig_$j")): _*)
  }

  /** LSH banding: `numPerms` signature columns → `bands` bucket keys, each
    * the concatenation of `numPerms/bands` adjacent signature values.
    * Documents sharing any (band_index, bucket) are near-dup candidates. */
  def lshBuckets(sigs: DataFrame, idCol: String, numPerms: Int = 8, bands: Int = 4): DataFrame = {
    val rows = numPerms / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"sig_${b * rows + r}")): _*).as("bucket"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate near-dup pairs: ids colliding in at least one band bucket.
    *
    * One groupBy on (band, bucket) then in-bucket pair expansion — the
    * signature pipeline is evaluated once (a bucket self-join would
    * recompute it per side) and work is bounded by Σ bucket_size², never
    * all-pairs.
    *
    * `maxBucket` is the skew guard: a degenerate mega-bucket (a shingle
    * half the corpus shares) would expand to size² pairs in ONE task — at
    * 100 TB a single hot key that never finishes. Buckets above the cap
    * carry no near-dup signal (they collide on corpus-common content, not
    * similarity), so they are dropped BEFORE expansion; the count of
    * dropped buckets is surfaced as an observed metric
    * (`graft.lsh.candidate_pairs` / `mega_buckets_dropped` — no extra job,
    * readable from any QueryExecutionListener).
    *
    * Contract: `idCol` must be an integral type (the `pair_structs`
    * expression packs ids as longs). A string id would cast to NULL and be
    * silently dropped by collect_list, so non-integral ids are rejected up
    * front instead. */
  def candidatePairs(buckets: DataFrame, idCol: String, maxBucket: Int = 1000): DataFrame =
    candidatePairsRaw(buckets, idCol, maxBucket).distinct()

  /** [[candidatePairs]] WITHOUT the multi-band dedup: emits one row per
    * in-bucket pair slot, so a pair sharing k band buckets appears k
    * times. For consumers whose verify step is a cheap per-row expression
    * (simhash hamming), deduplicating the SURVIVORS after the verify
    * filter beats a candidate-scale `distinct()` exchange — r17 rule (d):
    * a multi-band duplicate costs one extra bit_count, while the
    * pre-verify distinct shuffles every candidate slot (4.1M rows at the
    * sf1.0 decade for the 4×15-bit simhash banding, measured). Consumers
    * whose verify is itself expensive (Jaccard over shingle sets) should
    * keep [[candidatePairs]]. */
  def candidatePairsRaw(buckets: DataFrame, idCol: String, maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(buckets, idCol, "candidatePairs")
    buckets
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col(idCol).cast("long"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("graft.lsh.candidate_pairs",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)).as("mega_buckets_dropped"))
      .filter(size(col("ids")) <= maxBucket)
      // native pair build (one JVM loop per bucket) — the nested-transform
      // HOF chain runs interpreted per element (round-9 rule a; same A/B
      // as GraphOps.pairsFromBaskets)
      .select(explode(expr("pair_structs(ids)")).as("p"))
      .select(col("p.pa").as("id_a"), col("p.pb").as("id_b"))
  }

  /** Guard for operators whose pair machinery packs ids into longs:
    * fail fast on non-integral id columns (mirrors the keySkew "keys must
    * be integral" note) instead of silently dropping NULL-cast ids. */
  private[graft] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.ShortType ||
      dt == org.apache.spark.sql.types.ByteType,
      s"$op requires an integral id column; got $idCol: ${dt.simpleString}. " +
        "Map string ids to dense longs first (e.g. xxhash64 or zipWithIndex).")
  }

  /** Star edges per LSH bucket: one edge (bucket-min id → member) instead
    * of the full in-bucket pair expansion. Connectivity-equivalent to
    * [[candidatePairs]] — every pair in a bucket is linked through the
    * bucket's hub — at Σ bucket_size edges instead of Σ bucket_size², so
    * this is the input for CLUSTERING (connected components), where only
    * reachability matters. Verification (Jaccard) still needs real pairs.
    * A 20-document duplicate clique costs 19 edges here vs 190 pairs.
    *
    * Same `maxBucket` skew guard as [[candidatePairs]] (star edges are
    * linear in bucket size, but a mega-bucket would still weld half the
    * corpus into one bogus cluster); dropped-bucket count observed as
    * `graft.lsh.star_edges` / `mega_buckets_dropped`. */
  def bucketStarEdges(buckets: DataFrame, idCol: String, maxBucket: Int = 1000): DataFrame = {
    val hubs = buckets.groupBy(col("band"), col("bucket"))
      .agg(min(col(idCol)).as("id_a"), count(lit(1)).as("_n"))
      .observe("graft.lsh.star_edges",
        sum(when(col("_n") > maxBucket, 1L).otherwise(0L)).as("mega_buckets_dropped"))
      .filter(col("_n") <= maxBucket)
      .drop("_n")
    buckets.join(hubs, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("id_a"))
      .select(col("id_a"), col(idCol).as("id_b"))
      .distinct()
  }

  /** n-gram Jaccard similarity for candidate verification: |A∩B| / |A∪B|
    * over distinct shingle-HASH sets (collision probability ~2^-31 — and
    * mirrored exactly in the oracle). Run on LSH candidates only; the set
    * intersection is a native array op on int arrays, not a string
    * comparison.
    *
    * Considered and REJECTED (round 7): reusing the signature pipeline's
    * shingle rows for the verification sets instead of re-shingling the
    * candidate docs. The reuse requires MATERIALIZING corpus-scale
    * occurrence rows (the signature pass streams them into its aggregate;
    * nothing retains them), trading a candidate-restricted re-shingle —
    * cost ∝ the vanishing candidate set — for a full-corpus checkpoint:
    * exactly the "second-pass materialization beats narrow savings"
    * inversion that round 6 measured at 10× AGAINST the materializing
    * variant (duplicatedSpans, 1864 vs 184 s at 1M docs). The
    * candidate-restricted shape is the 100 TB-correct one; the ~0.3 s it
    * costs the local toy bench is the fixed floor of one extra tiny
    * aggregate, not a scale defect. */
  def jaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairedShingleSets(pairs, docs, idCol, textCol)
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("union_", size(col("set_a")) + size(col("set_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_"))
      .select(col("id_a"), col("id_b"), col("inter"), col("union_"), col("jaccard"))

  /** MinHash estimation-error audit: for every LSH candidate pair, the
    * signature-based Jaccard ESTIMATE (matching components / numPerms)
    * next to the TRUE shingle-set Jaccard, both in exact milli units,
    * plus the absolute error — the measurement that tunes (numPerms,
    * bands) on real data before committing a 100 TB dedup run to them.
    *
    * Cost shape: the signature table is built once and localCheckpointed
    * (it feeds both the banding pipeline and the per-pair estimate join —
    * round-4 rule (d)), the true Jaccard runs candidate-restricted via
    * [[jaccard]], and everything downstream of candidate generation is
    * ∝ the candidate set, never the corpus. */
  def minhashEstimate(docs: DataFrame, idCol: String, textCol: String,
                      numPerms: Int = 8): DataFrame = {
    require(1000 % numPerms == 0, "milli units need numPerms | 1000")
    val sigs = minhashSignature(docs, idCol, textCol, numPerms).transform(Lineage.cut)
    val pairs = candidatePairs(lshBuckets(sigs, idCol, numPerms), idCol)
      .transform(Lineage.cut)
    val matches = (0 until numPerms)
      .map(j => when(col(s"a.sig_$j") === col(s"b.sig_$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = pairs
      .join(sigs.as("a"), col("id_a") === col(s"a.$idCol"))
      .join(sigs.as("b"), col("id_b") === col(s"b.$idCol"))
      .select(col("id_a"), col("id_b"),
        (matches * (1000 / numPerms)).as("est_milli"))
    jaccard(pairs, docs, idCol, textCol)
      .withColumn("true_milli", expr("inter * 1000 div union_"))
      .select(col("id_a"), col("id_b"), col("true_milli"))
      .join(est, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est_milli"), col("true_milli"),
        abs(col("est_milli") - col("true_milli")).as("abs_err_milli"))
  }

  /** Edit-distance verification on the candidate pairs: Levenshtein over
    * the first `prefixLen` chars of the NORMALIZED texts, with a milli
    * similarity `1000 − dist·1000/max(len)` — the third verifier next to
    * [[jaccard]] (set overlap) and [[containment]] (subset), catching
    * small in-place edits that shift every shingle (a changed word
    * invalidates 3 shingles but costs 1 edit).
    *
    * The prefix cap bounds the O(L²) DP per pair — REQUIRED at scale: an
    * uncapped Levenshtein on two 1 MB documents is 10¹² cell updates in
    * one task. Candidate-restricted like the other verifiers; the join
    * ships only (id, prefix) projections. */
  def editVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                 textCol: String, prefixLen: Int = 200): DataFrame = {
    val prefixed = docs.select(col(idCol),
      substring(TextOps.normalize(col(textCol)), 1, prefixLen).as("_p"))
    pairs
      .join(prefixed.select(col(idCol).as("id_a"), col("_p").as("_pa")), Seq("id_a"))
      .join(prefixed.select(col(idCol).as("id_b"), col("_p").as("_pb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_pa"), col("_pb")).cast("long").as("edit_dist"),
        length(col("_pa")).cast("long").as("len_a"),
        length(col("_pb")).cast("long").as("len_b"))
      .withColumn("sim_milli",
        lit(1000L) - expr("edit_dist * 1000 div greatest(len_a, len_b, 1)"))
  }

  /** One-sided CONTAINMENT on the candidate pairs — `|A∩B| / |A|` (and the
    * B side) in exact milli units. Jaccard misses subset duplication: a
    * paragraph wholly contained in a 100× longer doc has tiny Jaccard but
    * containment ≈ 1, which is the signal a quote/aggregator filter needs
    * (Broder's containment measure). Same candidate-restricted shape as
    * [[jaccard]] — cost ∝ the candidate set, never the corpus. Shingle
    * sets are non-empty by construction (short docs fall back to the
    * whole-text hash), so the divisions are safe. */
  def containment(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairedShingleSets(pairs, docs, idCol, textCol)
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("size_a", size(col("set_a")).cast("long"))
      .withColumn("size_b", size(col("set_b")).cast("long"))
      .withColumn("cont_a_milli", expr("inter * 1000 div size_a"))
      .withColumn("cont_b_milli", expr("inter * 1000 div size_b"))
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        col("cont_a_milli"), col("cont_b_milli"))

  /** Candidate pairs joined with both docs' distinct shingle-hash sets —
    * the shared verification input of [[jaccard]] and [[containment]]. */
  private def pairedShingleSets(pairs: DataFrame, docs: DataFrame,
                                idCol: String, textCol: String): DataFrame = {
    // Shingle only the documents that appear in a candidate pair — LSH
    // leaves a vanishing fraction of the corpus as candidates, so the
    // verification pass must not re-tokenize/re-hash the whole corpus
    // (at 100 TB that second full pass would dominate the entire job).
    val candidateIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    // Materialized once: the shingle sets feed BOTH sides of the pair join;
    // un-checkpointed, the semi-join + shingling aggregate runs per side.
    // Bounded by the candidate set (vanishing vs the corpus), so the
    // materialization is small by construction.
    val sets = shingleHashSets(docs.join(candidateIds, Seq(idCol), "left_semi"),
      idCol, textCol).transform(Lineage.cut)
    def side(n: String) = sets
      .withColumnRenamed(idCol, s"id_$n").withColumnRenamed("shset", s"set_$n")
    pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns pairwise near-dup candidates into DEDUP CLUSTERS (keep one doc
    * per component). Iterative min-label propagation: each round every node
    * takes the min label among itself and its neighbours; fixpoint after
    * `diameter` rounds (near-dup clusters are shallow — a handful of
    * rounds). Each round is one join + one groupBy(min) — all map-side
    * combinable — with the lineage cut per round (`localCheckpoint`), so
    * the plan never grows with iterations. The driver-side loop only reads
    * a 1-row convergence probe per round, never the labels.
    *
    * At extreme scale replace the propagation with alternating
    * large-star/small-star rounds (same dataflow primitives, fewer rounds
    * on high-diameter graphs); LSH dup graphs rarely need it. Output has
    * one row per node APPEARING IN `pairs` — singletons are their own
    * cluster by definition and can be unioned back with label = id. */
  /** Edge count under which connected components runs as a driver
    * union-find over one bounded collect (see [[ccDriverLabels]]).
    * Override via SPARK_GRAFT_CC_SMALL_CAP; 0 disables the fast path. */
  val ccSmallEdgeCap: Int =
    sys.env.get("SPARK_GRAFT_CC_SMALL_CAP").map(_.toInt).getOrElse(65536)

  /** Small-graph fast path shared by both CC algorithms: `take(cap+1)`
    * short-circuits after cap+1 edge rows (incremental collect-limit — at
    * 100 TB the probe reads one partition's worth and falls through), and
    * a graph that fits runs union-find on the driver in one pass instead
    * of paying log(n) iterative rounds of job-submission floor on a toy
    * edge set (the round-7 ANN small-corpus doctrine; dedup_cc_survivors
    * was 6.0 s at sf0.1 on a few-hundred-edge graph). Union always
    * attaches the larger root under the smaller, so the invariant
    * root = min(component) reproduces the distributed min-label contract
    * bit for bit; self-loops register the node as its own singleton.
    * Returns None for over-cap graphs or non-long id columns. */
  private def ccDriverLabels(pairs: DataFrame, aCol: String, bCol: String,
                             cap: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    if (cap <= 0 || pairs.schema(aCol).dataType != LongType ||
        pairs.schema(bCol).dataType != LongType) return None
    val rows = pairs.select(col(aCol), col(bCol)).take(cap + 1)
    if (rows.length > cap) None
    else {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      Some(parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "label"))
    }
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20,
                          smallEdgeCap: Int = ccSmallEdgeCap): DataFrame =
    ccDriverLabels(pairs, aCol, bCol, smallEdgeCap).getOrElse(
      connectedComponentsDistributed(pairs, aCol, bCol, maxIters))

  /** Iterative min-label propagation — the distributed path of
    * [[connectedComponents]]. */
  def connectedComponentsDistributed(pairs: DataFrame, aCol: String,
                                     bCol: String,
                                     maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().transform(Lineage.cut)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).transform(Lineage.cut)
    var converged = false
    var i = 0
    // Convergence probe: labels are per-node non-increasing, so the label
    // SUM is strictly decreasing until the fixpoint — an unchanged sum
    // means an unchanged labeling. One map-side-combined aggregate per
    // round (decimal: immune to int64 overflow at any id scale), instead
    // of a join of consecutive labelings.
    var prevSum: java.math.BigDecimal = null
    while (!converged && i < maxIters) {
      val nbrLabels = edges.join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("label"))
      val next = labels.unionByName(nbrLabels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .transform(Lineage.cut)
      val sum = next.agg(org.apache.spark.sql.functions.sum(
        col("label").cast("decimal(38,0)")).as("s")).head().getDecimal(0)
      labels = next
      converged = (sum == null && prevSum == null) ||
        (sum != null && prevSum != null && sum.compareTo(prevSum) == 0)
      prevSum = sum
      i += 1
    }
    // Unconverged labels are silently WRONG labels (a >maxIters-diameter
    // chain would split one component in two) — refuse to return them.
    // LSH graphs on star edges are hub-flattened (tiny diameter); a graph
    // that trips this wants more rounds or the large-star/small-star form.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds; " +
        "raise maxIters (diameter exceeds it) or switch to star-contraction")
    labels
  }

  /** End-to-end near-dup deduplication: documents that lose their
    * connected-component election (their cluster label is a different doc)
    * are dropped; everything else — cluster representatives AND singletons
    * that never appeared in a candidate pair — survives. The anti-join runs
    * on the (tiny) loser set, never the corpus: LSH leaves a vanishing
    * fraction of documents in any pair, so the corpus-side work is one
    * hash semi-join probe. */
  def nearDupSurvivors(docs: DataFrame, idCol: String, textCol: String,
                       numPerms: Int = 8,
                       smallEdgeCap: Int = ccSmallEdgeCap): DataFrame = {
    // Star edges, not pairs: clustering only needs reachability, and the
    // star form keeps a k-document duplicate clique at k-1 edges instead
    // of k·(k-1)/2 pairs — the difference between linear and quadratic
    // work on the pathological "many copies of one document" corpus.
    val pairs = bucketStarEdges(
      lshBuckets(minhashSignature(docs, idCol, textCol, numPerms), idCol,
        numPerms),
      idCol).transform(Lineage.cut) // consumed twice seeding the CC loop
    val losers = connectedComponents(pairs, "id_a", "id_b",
        smallEdgeCap = smallEdgeCap)
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[nearDupSurvivors]] with a SURVIVORSHIP POLICY: each duplicate
    * cluster keeps the member maximizing `metric` (ties → lowest id)
    * instead of the arbitrary min-id representative — the production rule
    * is "keep the longest / highest-quality copy", not "keep the one with
    * the smallest key". With a constant metric the election degenerates to
    * min-id exactly (spec-pinned), so this strictly generalizes the plain
    * pipeline.
    *
    * Scale shape: identical LSH → star-edge → CC front; the election adds
    * one hash join of the (tiny, pair-participant-scale) member table
    * against the corpus metric projection and one label-keyed `max_by`
    * (struct tie-break keeps map-side partial aggregation — the window
    * formulation would sort every member copy). The corpus-side work is
    * still a single anti-join probe of the loser set. */
  def nearDupSurvivorsBy(docs: DataFrame, idCol: String, textCol: String,
                         metric: Column, numPerms: Int = 8,
                         smallEdgeCap: Int = ccSmallEdgeCap): DataFrame = {
    val pairs = bucketStarEdges(
      lshBuckets(minhashSignature(docs, idCol, textCol, numPerms), idCol,
        numPerms),
      idCol).transform(Lineage.cut) // consumed twice seeding the CC loop
    val members = connectedComponents(pairs, "id_a", "id_b",
      smallEdgeCap = smallEdgeCap)
    // member-scale (pair participants only), consumed by both the
    // election and the loser filter — checkpoint, never recompute the CC
    val scored = members
      .join(docs.select(col(idCol).as("node"), metric.as("_m")), Seq("node"))
      .transform(Lineage.cut)
    val reps = scored.groupBy(col("label"))
      .agg(max_by(col("node"), struct(col("_m"), -col("node"))).as("_rep"))
    val losers = scored.join(reps, Seq("label"))
      .filter(col("node") =!= col("_rep"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** One row per fixed-size token segment: (idCol, seg_idx, segment). The
    * cross-document unit for boilerplate removal — "lines" when the corpus
    * has real line structure (split on newline upstream), aligned
    * `segTokens`-token windows otherwise. Same codegen index-explode shape
    * as [[shingleHashRows]]; documents with empty normalized text emit no
    * rows. */
  def segmentRows(docs: DataFrame, idCol: String, textCol: String,
                  segTokens: Int = 8): DataFrame =
    docs.repartition(col(idCol))
      .select(col(idCol), TextOps.normalize(col(textCol)).as("_norm"))
      .filter(length(col("_norm")) > 0)
      .select(col(idCol), TextOps.tokens(col("_norm")).as("_toks"))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0),
          ceil(size(col("_toks")) / segTokens.toDouble).cast("long") - 1)).as("seg_idx"))
      .select(col(idCol), col("seg_idx"),
        concat_ws(" ", slice(col("_toks"),
          (col("seg_idx") * segTokens + 1).cast("int"), lit(segTokens))).as("segment"))

  /** Cross-document boilerplate removal (the CCNet/C4 "dedup repeated
    * lines across the corpus" pass): segments appearing in more than
    * `maxDocs` DISTINCT documents are dropped from every document, and the
    * text is reassembled from the surviving segments in order. Returns
    * every input document — fully-boilerplate or empty docs come back with
    * empty `cleaned_text`.
    *
    * maxDocs = 1 (the CCNet standard and the registered query) takes a
    * JOIN-FREE path (r18 — the [[sourceDupRollup]] identity transplanted):
    * a segment survives iff ALL its occurrences live in ONE document, so
    * the per-segment count aggregate can CARRY the survivor payload — the
    * (doc, seg_idx-list) of its single document via `min(struct(...))`
    * over a group that provably holds one row — and no occurrence-scale
    * join or checkpoint is needed:
    *   1. (segment, doc, seg_idx-list) rows built ROW-LOCALLY by the
    *      `seg_groups` kernel (r20 — within-doc grouping needs no
    *      exchange; the old explode + groupBy(segment, doc) shuffled
    *      occurrence-scale near-unique string keys to form these groups);
    *   2. segment-scale: n_docs = count(*), payload = min(struct) —
    *      evaluated wastefully on dropped-segment groups but one struct
    *      of state per group;
    *   3. survivors explode (survivor-scale) into the per-doc ordered
    *      fold (in-group array_sort, no global sort — the a3 pattern);
    *   4. per-doc totals map-only from the corpus (`ceil(tokens/seg)`,
    *      no explode), n_removed = n_segs − n_kept.
    * Replaces: the occurrence-scale localCheckpoint of segment STRINGS,
    * the countDistinct aggregate, and the string-keyed occurrence join.
    *
    * maxDocs > 1 keeps the join shape (survivor groups then hold up to
    * `maxDocs` docs — an aggregate cannot return them without unbounded
    * collect state on the hot boilerplate groups it exists to drop):
    * countDistinct groupBy, hash join back, per-doc fold, with the
    * shared segment rows localCheckpointed (round-4 rule d). */
  def dropBoilerplateSegments(docs: DataFrame, idCol: String, textCol: String,
                              segTokens: Int = 8, maxDocs: Int = 1): DataFrame = {
    val totals = docs.select(col(idCol),
      // isnull arm: a NULL text must come back as ("", 0, 0) like the
      // maxDocs>1 path's coalesce — without it the when() evaluates
      // null-false and n_segs/n_removed leak NULL (r19 advice).
      when(col(textCol).isNull ||
          length(TextOps.normalize(col(textCol))) === 0, 0L)
        .otherwise(ceil(size(TextOps.tokens(col(textCol))) / segTokens.toDouble)
          .cast("long")).as("n_segs"))
    if (maxDocs == 1) {
      // seg_groups kernel (r20): the per-doc (segment → seg_idx list)
      // grouping is ROW-LOCAL — the old segmentRows explode +
      // groupBy(segment, id).agg(collect_list) paid an occurrence-scale
      // exchange on near-unique (segment, doc) string keys just to form
      // groups the kernel emits directly; that exchange is deleted and
      // the per-segment rollup below is the FIRST shuffle.
      val perDocSeg = docs
        .select(col(idCol), TextOps.normalize(col(textCol)).as("_norm"))
        .filter(length(col("_norm")) > 0)
        .select(col(idCol),
          explode(TextOps.segGroups(TextOps.tokens(col("_norm")), segTokens)).as("_g"))
        .select(col("_g.s").as("segment"), col(idCol), col("_g.x").as("_idxs"))
      val perSeg = perDocSeg.groupBy(col("segment"))
        .agg(count(lit(1)).as("_nd"),
          min(struct(col(idCol).as("i"), col("_idxs").as("x"))).as("_w"))
      val kept = perSeg.filter(col("_nd") <= 1)
        .select(col("_w").getField("i").as(idCol), col("segment"),
          explode(col("_w").getField("x")).as("seg_idx"))
      val perDoc = kept.groupBy(col(idCol))
        .agg(count(lit(1)).as("_nkept"),
          array_join(transform(
            array_sort(collect_list(struct(col("seg_idx"), col("segment")))),
            x => x.getField("segment")), " ").as("cleaned_text"))
      totals.join(perDoc, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
          col("n_segs"),
          (col("n_segs") - coalesce(col("_nkept"), lit(0L))).as("n_removed"))
    } else {
      // Materialized once: consumed by BOTH the boilerplate counts and the
      // join back — without the lineage cut the tokenize+explode subtree is
      // recomputed per consumer (the dedup_jaccard pattern, visible as two
      // full Generate subtrees in the physical plan).
      val segs = segmentRows(docs, idCol, textCol, segTokens).transform(Lineage.cut)
      val counts = segs.groupBy(col("segment"))
        .agg(countDistinct(col(idCol)).as("ndocs"))
      val perDoc = segs.join(counts, Seq("segment"))
        .groupBy(col(idCol))
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("ndocs") > maxDocs, 1L).otherwise(0L)).as("n_removed"),
          // collect_list skips nulls → only surviving segments enter the fold
          array_join(transform(
            array_sort(collect_list(when(col("ndocs") <= maxDocs,
              struct(col("seg_idx"), col("segment"))))),
            x => x.getField("segment")), " ").as("cleaned_text"))
      docs.select(col(idCol))
        .join(perDoc, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
          coalesce(col("n_segs"), lit(0L)).as("n_segs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"))
    }
  }

  /** Incremental (batch-over-batch) exact dedup — the daily-increment
    * pipeline shape: a new crawl batch is deduplicated against every
    * PREVIOUSLY COMMITTED fingerprint, and within itself (min id wins).
    * Returns (survivors-with-fingerprint, updated fingerprint set) — the
    * caller commits the set back to its state store (e.g.
    * [[graft.state.Stores]]-style parquet with pointer commit) so the next
    * batch sees it.
    *
    * Scale: one groupBy on the 16-hex fingerprint within the batch, one
    * anti-join against the seen set (hash join keyed by fingerprint —
    * batch-sized, not corpus-sized, probe side). The seen set union stays
    * distinct-by-construction (survivor fingerprints are new by the
    * anti-join, unique by the in-batch election). */
  def incrementalDedup(newDocs: DataFrame, seenFingerprints: DataFrame,
                       idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val fp = newDocs.withColumn("fingerprint", TextOps.fingerprint(col(textCol)))
    val firstPerFp = fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as(idCol))
    val survivors = fp
      .join(firstPerFp, Seq("fingerprint", idCol), "left_semi")
      .join(seenFingerprints, Seq("fingerprint"), "left_anti")
      .transform(Lineage.cut) // consumed by the caller AND the seen-set union
    val updatedSeen = seenFingerprints
      .unionByName(survivors.select(col("fingerprint")))
    (survivors, updatedSeen)
  }

  /** Incremental NEAR-dup dedup — the ONLINE variant of
    * [[nearDupSurvivors]], for batch-over-batch ingestion: a new batch is
    * admitted against a committed (band, bucket) set instead of
    * re-clustering the whole corpus. A new doc loses if ANY of its LSH
    * band buckets was already committed (near-dup of an earlier doc), or
    * if it shares a FRESH bucket with a lower-id batchmate (the bucket hub
    * admits, the rest defer to it — [[bucketStarEdges]]' greedy analog).
    * Returns (survivors, updatedSeen); the caller persists `updatedSeen`
    * exactly like [[incrementalDedup]]'s fingerprint set.
    *
    * Scale: the state is one row per DISTINCT (band, bucket) — bands ×
    * corpus-distinct-signatures, not corpus rows — and every step is a
    * semi/anti hash join on the bucket key; nothing re-reads committed
    * batches. Greedy-online semantics match what a streaming curation
    * pipeline can actually promise: admission is decided against the
    * state AT ARRIVAL (a later better representative cannot retroactively
    * evict an admitted doc). */
  def incrementalNearDedup(newDocs: DataFrame, seenBuckets: DataFrame,
                           idCol: String, textCol: String,
                           numPerms: Int = 8, bands: Int = 4): (DataFrame, DataFrame) = {
    // Three consumers of the bucket frame (collision probe, fresh-hub
    // election, seen-set union) — materialize once or the signature
    // pipeline re-runs per consumer.
    val buckets = lshBuckets(minhashSignature(newDocs, idCol, textCol, numPerms),
      idCol, numPerms, bands).transform(Lineage.cut)
    incrementalNearDedupFromBuckets(newDocs, buckets, seenBuckets, idCol)
  }

  /** [[incrementalNearDedup]] against PRE-COMPUTED batch buckets — for
    * callers that already ran the signature pipeline over a superset (e.g.
    * a replay that buckets the whole corpus once and splits committed/new
    * by id, instead of running two separate signature pipelines over the
    * halves: same total rows hashed, one aggregation stage instead of
    * two). `newBuckets` must be materialized (checkpoint/scan) — it feeds
    * three consumers. */
  def incrementalNearDedupFromBuckets(newDocs: DataFrame, newBuckets: DataFrame,
                                      seenBuckets: DataFrame,
                                      idCol: String): (DataFrame, DataFrame) = {
    val buckets = newBuckets
    val seen = seenBuckets.select(col("band"), col("bucket"))
    val collided = buckets.join(seen, Seq("band", "bucket"), "left_semi")
      .select(col(idCol)).distinct()
    val freshHubs = buckets.join(seen, Seq("band", "bucket"), "left_anti")
      .groupBy(col("band"), col("bucket")).agg(min(col(idCol)).as("_hub"))
    val intraLosers = buckets.join(freshHubs, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("_hub")).select(col(idCol)).distinct()
    val losers = collided.unionByName(intraLosers).distinct()
    val survivors = newDocs.join(losers, Seq(idCol), "left_anti").transform(Lineage.cut)
    val updatedSeen = seen
      .unionByName(buckets.select(col("band"), col("bucket"))).distinct()
    (survivors, updatedSeen)
  }

  /** Cross-document duplicated n-gram SPANS — corpus-level repetition
    * analysis (the "find the boilerplate sentences everyone shares" pass a
    * training-data audit runs; cf. Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): every `width`-token window,
    * grouped across the WHOLE corpus, keeping spans seen in more than one
    * document; top-k by occurrence count.
    *
    * Scale shape — ONE LINEAR PASS: the native `span_counts` kernel
    * ([[graft.expressions.SpanCounts]], r20 — the gram_counts lever at
    * width N) walks each doc's token array ONCE in the JVM and emits
    * (span, within-doc count) structs, so the Generate output is per-doc-
    * DISTINCT scale and never carries the `_toks` array (the old
    * index-explode + width-wide `element_at` chain copied the full token
    * array into every exploded unsafe row — O(tokens × doc_length) row
    * production for an enumeration needing O(tokens × width)); then one
    * map-side-combined groupBy keyed by the span TEXT (n_occ = sum of the
    * within-doc counts, n_docs = row count — rows are per-doc-distinct),
    * then TakeOrdered top-k (each partition keeps k, the driver merges —
    * no global sort shuffle). The (n_occ, n_docs, span) ordering is
    * total, so the limit boundary is deterministic. The r19-rule-(b)
    * repartition(id) the old form carried is gone too — this groupBy is
    * keyed by span, so it was a pure corpus-text exchange.
    *
    * A hash-keyed TWO-pass variant ([[duplicatedSpansHashKeyed]], kept as
    * the measured-and-rejected reference) was built on the theory that
    * 8-byte shuffle keys beat ~50-byte span strings. Same-run ScaleSmoke
    * A/Bs refuted it AT BOTH SCALES: 2× slower at 100k docs (11.0/17.6 s
    * vs 5.0/6.5 s, two quiet runs) and 10× slower at 1M (1864 s vs
    * 184 s) — the second Generate pass, the candidate checkpoint
    * (deserialized row storage of millions of rows), and the second
    * aggregation dwarf the shuffle-byte saving, and the gap WIDENS with
    * scale. An earlier "−16% at 1M" reading that shipped the hash form
    * came from an uncontrolled cross-run comparison — the round-6
    * measurement-hygiene lesson (CLAUDE.md rule g). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      width: Int = 8, topK: Int = 50): DataFrame = {
    require(width >= 2, "a span needs at least 2 tokens")
    docs
      .select(col(idCol),
        explode(TextOps.spanCounts(TextOps.tokens(col(textCol)), width)).as("_g"))
      .select(col(idCol), col("_g.s").as("span"), col("_g.c").as("c"))
      .groupBy(col("span"))
      .agg(sum(col("c")).as("n_occ"),
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("span"))
      .limit(topK)
  }

  /** Seed for the internal span hash (round-4 rule a: oracle-invisible
    * hashes are seeded xxhash64, never sha). */
  private val SpanHashSeed = 0x5bd1e995

  /** One row per `width`-token window: (idCol, span). Shared by
    * [[duplicatedSpans]] and the hash-keyed reference form. */
  private def spanRows(docs: DataFrame, idCol: String, textCol: String,
                       width: Int): DataFrame = {
    val span = concat_ws(" ",
      (1 to width).map(o => expr(s"element_at(_toks, _idx + $o)")): _*)
    docs.repartition(col(idCol))
      .select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= width)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0), size(col("_toks")) - width)).as("_idx"))
      .select(col(idCol), span.as("span"))
  }

  /** The REJECTED two-pass hash-keyed form of [[duplicatedSpans]]: pass 1
    * groups by seeded `xxhash64(span)` with a tie-inclusive top-k
    * candidate cut (every hash tied at the k-th (n_occ, n_docs) is kept,
    * so the span-ordered boundary matches the one-pass form exactly —
    * spec-pinned at tied boundaries); pass 2 re-scans, semi-joins the
    * broadcast candidates, and recovers text + exact counts (which
    * disambiguates collisions among KEPT candidates — but a pass-1
    * collision that merges sub-threshold spans can inflate the k-th cut
    * and push a genuinely qualifying span's hash below the candidate
    * line, so the top-k boundary is only collision-exact for hashes that
    * survive the cut; at 100 TB span counts 64-bit birthday collisions
    * are not negligible). Near-identical output, measured
    * 2× slower at 100k docs and 10× slower at 1M than the one-pass form
    * (see [[duplicatedSpans]]) — kept ONLY as the A/B reference and as
    * the worked example that narrow shuffle keys do not pay for a second
    * corpus pass plus a candidate materialization. */
  def duplicatedSpansHashKeyed(docs: DataFrame, idCol: String, textCol: String,
                               width: Int = 8, topK: Int = 50): DataFrame = {
    require(width >= 2, "a span needs at least 2 tokens")
    val rows = spanRows(docs, idCol, textCol, width)
    val hashed = rows.select(col(idCol),
      xxhash64(lit(SpanHashSeed), col("span")).as("_h"))
    val byHash = hashed
      .groupBy(col("_h"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .transform(Lineage.cut)
    // The weakest (n_occ, n_docs) among the top-k hashes; keeping
    // everything at-or-above it keeps all boundary ties. NULL (no
    // qualifying hash at all) keeps nothing — vacuously right.
    val kth = byHash.orderBy(col("n_occ").desc, col("n_docs").desc).limit(topK)
      .agg(min(struct(col("n_occ"), col("n_docs"))).as("_kth"))
    val candidates = byHash.crossJoin(broadcast(kth))
      .filter(struct(col("n_occ"), col("n_docs")) >= col("_kth"))
      .select(col("_h"))
    spanRows(docs, idCol, textCol, width)
      .withColumn("_h", xxhash64(lit(SpanHashSeed), col("span")))
      .join(broadcast(candidates), Seq("_h"), "left_semi")
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("span"))
      .limit(topK)
  }

  /** Exact duplicated-span REMOVAL — the excision half of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (ExactSubstr): every `width`-token window whose span text occurs in
    * MORE THAN ONE document is masked in every document holding it, the
    * masked token positions are excised (overlapping windows merge by
    * position-set union — no double removal), and each document's text is
    * reassembled from the surviving tokens in order. With `keepFirst`
    * (the paper's keep-one-copy rule) the single occurrence at the
    * lexicographically smallest (doc, position) survives; the election
    * key is the zero-padded `(lpad(doc,20) ++ lpad(idx,10))` string (the
    * llm_mixed_lang trick — 20 digits covers any non-negative int64, the
    * r11 lpad lesson) so Spark's `min` and DuckDB's `min` agree byte-wise.
    * Within-doc-only repetition is NOT removed — the cross-document
    * contract of [[duplicatedSpans]]; pair with
    * [[graft.ops.TextOps.repetitionStats]] for intra-doc runs.
    *
    * Scale shape — linear passes, no doc×doc work: the compact
    * (id, token-array) projection is checkpointed ONCE and every
    * occurrence-scale stage (the span Generate ×2) re-derives from that
    * local scan rather than materializing exploded rows (round-6 rule b /
    * round-9 rule b); the dup election is one span-keyed
    * map-side-combined aggregation (the [[duplicatedSpans]] shape);
    * masking is a hash join back on the span. Excision + reassembly is
    * ROW-LOCAL (r17): the masked window STARTS are aggregated per doc
    * (`collect_list(_idx)` — doc-length-bounded state, never unbounded),
    * joined back to the toks checkpoint on the id (the checkpoint is
    * already hash-partitioned by id, so only the start lists shuffle),
    * and one native kernel pass ([[graft.expressions.ExciseSpans]])
    * marks, merges overlaps, excises and rejoins per row. The previous
    * shape paid a width× `maskedPos` explode, an occurrence-scale
    * (id, pos) anti-join shuffle, and a corpus-scale
    * `array_sort(collect_list(struct))` reassembly for the same per-doc
    * work (r16 verdict task 1; round-9 rule a — the single JVM loop beats
    * both the HOF chain and the shuffle shape). Every input doc returns a
    * row (fully-masked or empty docs with cleaned_text "").
    *
    * The dup-span election table is localCheckpointed (it is an AGGREGATE
    * feeding a join whose probe keys are Zipf-hot boilerplate spans —
    * round-10 rule e: without the cut AQE cannot skew-split the fallback
    * join) and the mask join auto-selects broadcast-vs-shuffle from a
    * LIMIT-bounded probe of that materialization (reads at most cap+1
    * rows — the [[decontaminate]] dispatch): a broadcast dup table makes
    * the whole second span pass MAP-ONLY until the doc-bounded starts
    * groupBy; a corpus whose dup-span table outgrows the cap falls back
    * to the skew-splittable shuffle join instead of OOMing executors.
    * `broadcastDupSpans` forces a path (specs pin path-output equality).
    *
    * Output: (idCol, cleaned_text, n_tokens, n_removed, n_spans_masked);
    * `cleaned_text` is over NORMALIZED tokens (same contract as
    * [[dropBoilerplateSegments]]). */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            width: Int = 8, keepFirst: Boolean = true,
                            broadcastDupSpans: Option[Boolean] = None,
                            broadcastMaxDupSpans: Long = 1000000L): DataFrame = {
    require(width >= 2, "a span needs at least 2 tokens")
    import org.apache.spark.sql.graftglue.ColumnGlue
    // Keeper election key: numeric (id, idx) struct min — for non-negative
    // ids this orders identically to the oracle's zero-padded
    // `lpad(doc,20) ++ lpad(idx,10)` string min (both are (doc, position)
    // lexicographic), so both engines elect the SAME occurrence while
    // Spark skips building a 30-byte string per window occurrence in two
    // passes (r17; struct min keeps map-side partials per the max_by
    // note — the key never reaches the output, only the election does).
    // Non-numeric idCol falls back to the padded-string key itself (the
    // struct ordering of strings is plain lexicographic, which the
    // unpadded oracle key is NOT) — r18 advice fix: a string-typed caller
    // previously elected a different keeper than the oracle silently.
    val idIsNumeric = docs.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def keyOf(id: Column, idx: Column): Column =
      if (idIsNumeric) struct(id, idx)
      else concat(lpad(id.cast("string"), 20, "0"),
                  lpad(idx.cast("string"), 10, "0"))
    val toks = docs.repartition(col(idCol))
      .select(col(idCol), TextOps.normalize(col(textCol)).as("_norm"))
      .select(col(idCol),
        when(length(col("_norm")) === 0, array().cast("array<string>"))
          .otherwise(TextOps.tokens(col("_norm"))).as("_toks"))
      .transform(Lineage.cut) // compact projection; all exploded stages re-derive from this scan
    // span_groups kernel (r20): one JVM pass per doc emits (span,
    // ascending start list) structs — the Generate output is per-doc-
    // DISTINCT scale and never carries the `_toks` array (the old
    // index-explode + width-wide element_at chain copied the token array
    // into every exploded row, TWICE — this projection is re-derived by
    // both passes). The dup election aggregates per-doc-distinct rows:
    // n_docs is a plain count and the keeper key uses each doc's FIRST
    // start (x[1] — the per-doc min, so min over docs == min over
    // occurrences for the (id, idx)-lexicographic key).
    def spg: DataFrame = toks
      .select(col(idCol),
        explode(TextOps.spanGroups(col("_toks"), width)).as("_g"))
      .select(col(idCol), col("_g.s").as("span"), col("_g.x").as("_idxs"))
    val dup = spg.groupBy(col("span"))
      .agg(count(lit(1)).as("_ndocs"),
        min(keyOf(col(idCol), element_at(col("_idxs"), 1))).as("_keeper"))
      .filter(col("_ndocs") > 1)
      .select(col("span"), col("_keeper"))
      .transform(Lineage.cut)
    val useBroadcast = broadcastDupSpans.getOrElse {
      val probe = math.min(broadcastMaxDupSpans, Int.MaxValue - 1L).toInt
      dup.limit(probe + 1).count() <= probe
    }
    val dupSide = if (useBroadcast) broadcast(dup) else dup
    // Masked window starts per doc — doc-length-bounded lists (a doc of T
    // tokens has at most T-width+1 windows), so the per-group state is
    // bounded by the longest document, not the corpus.
    val starts = spg.join(dupSide, Seq("span"))
      .select(col(idCol), col("_keeper"), explode(col("_idxs")).as("_idx"))
      .filter(if (keepFirst) keyOf(col(idCol), col("_idx")) =!= col("_keeper")
              else lit(true))
      .groupBy(col(idCol))
      .agg(collect_list(col("_idx")).as("_starts"))
    val ex = ColumnGlue.column(graft.expressions.ExciseSpans(
      ColumnGlue.expression(col("_toks")),
      ColumnGlue.expression(coalesce(col("_starts"), array().cast("array<long>"))),
      width))
    // `_ex` is multi-referenced and non-cheap, so CollapseProject keeps the
    // projection materialized (round-7 rule b) — the kernel runs once per row.
    toks.join(starts, Seq(idCol), "left")
      .select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("_starts")), lit(0)).cast("long").as("n_spans_masked"),
        ex.as("_ex"))
      .select(col(idCol),
        col("_ex.cleaned_text").as("cleaned_text"),
        col("n_tokens"),
        (col("n_tokens") - col("_ex.n_kept")).as("n_removed"),
        col("n_spans_masked"))
  }

  /** Per-SOURCE duplication rollup: for each source, the ppm of its
    * shingle OCCURRENCES whose shingle appears in more than one document
    * corpus-wide — the signal that ranks feeds/crawls by boilerplate
    * weight before sampling a training mix.
    *
    * JOIN-FREE SHAPE (r18): the occurrence→per-shingle-count join this
    * operator was built around is algebraically unnecessary. Identity:
    * every occurrence of a shingle with `n_docs = 1` lives in exactly ONE
    * document, hence one source — so
    * `dup_occ(source) = total_occ(source) − Σ_{h: n_docs(h)=1} occ(h)`,
    * with each unique-shingle sum attributed to the single source its one
    * document carries. Dataflow:
    *   1. `total_occ(source)`: per-doc shingle COUNTS need no explode —
    *      `greatest(size(tokens)−2, 1)` per doc, one map-only pass with
    *      map-side combine on the tiny source domain;
    *   2. ONE occurrence-scale aggregation to (shingle, doc⊕source) — the
    *      partial-agg half the old shape's countDistinct ran internally,
    *      made explicit so the occurrence count and the
    *      source-of-the-single-doc ride the same pass (no Expand, no
    *      second distinct plan);
    *   3. a shingle-scale rollup to (n_occ, n_docs, src-if-unique), a
    *      source-scale filter+sum, and a source-domain join of two
    *      bounded aggregates.
    * The former shape's occurrence-scale localCheckpoint, its TWO
    * occurrence aggregations and its occurrence×counts join — plus the
    * hot/cold two-path machinery protecting that join from boilerplate
    * skew (AQE's OptimizeSkewedJoin declines joins above aggregates;
    * DedupSimilaritySpec still documents the declination on the naive
    * form) — are all gone because THERE IS NO JOIN LEFT TO SKEW. The only
    * remaining hot-key concentration is stage 3's reduce partition
    * receiving one row per (hot shingle, doc) pair — the identical
    * distinct-pair bound the old countDistinct paid internally,
    * ~n_docs(h) rows for the hottest shingle, fine at any corpus size.
    * `hotOccThreshold` is retained for source compatibility; the r18
    * shape has no skewable join for it to guard.
    *
    * Historical design record (BENCHNOTES round 6) — two r6 "improvements"
    * measured and REJECTED against the old join shape, kept because the
    * lesson generalizes:
    *   - (shingle-STRING, source) pre-aggregation BEFORE the join: −17%
    *     at 100k docs, then 10× WORSE at 1M (673 vs 66 s) — string keys,
    *     reduced nothing, spilled, and still paid the join. (The r18
    *     stage 2 differs in kind: long/struct keys at the cardinality the
    *     old countDistinct already shuffled, and it REPLACES the join +
    *     checkpoint rather than adding a stage in front of them.)
    *   - left-semi filtering occurrences against `_nd > 1` shingles:
    *     99.85% of occurrences survive on natural text — paid two
    *     occurrence shuffles to remove nothing.
    *
    * CALLER CONTRACT: `docs` is evaluated twice (the shingle pass and the
    * no-explode totals pass) — pass a scan-backed or materialized
    * DataFrame, as the registered query does (a parquet scan re-read is
    * column-pruned and cheap; an expensive upstream pipeline should be
    * checkpointed by the caller, who knows its cost). */
  def sourceDupRollup(docs: DataFrame, idCol: String, textCol: String,
                      srcCol: String,
                      hotOccThreshold: Long = 2000000L): DataFrame = {
    // NULL-text rows are excluded from BOTH passes (r19 advice): the
    // occurrence pass would emit one shared null-hash row per null doc
    // (two null docs in different sources would then read as cross-doc
    // duplicates) while the totals pass counted them via greatest(..,1) —
    // the two passes must see the same row set. A doc with no text has no
    // shingle occurrences by definition.
    // CONTRACT (also r19 advice): `_nd` counts distinct (source, id)
    // structs — doc ids must be unique ACROSS sources (true of every
    // corpus here); a doc id repeated in two sources would read as two
    // documents.
    val nonNull = docs.filter(col(textCol).isNotNull)
    // Stage 2, ROW-LOCAL (r20 — the r19 tfidf-tf move, hash edition):
    // per-(doc, shingle) occurrence counts come straight out of the
    // `hash_counts` kernel over the per-doc shingle-hash array, with the
    // source packed into the row key (the sourceOverlap struct-id move)
    // so stage 3 can recover the unique source of n_docs=1 shingles
    // without any join back to `docs`. This deletes the old explode +
    // groupBy(_h, _sid) exchange (near-unique keys — the partial agg only
    // ever collapsed within-doc repeats, which the kernel now does in the
    // map) AND the shingleHashRows repartition(id) (pure corpus-text
    // exchange here — this operator never groups by the doc id, r19 rule
    // b). The when() keeps the whole-doc-hash fallback for under-3-token
    // docs.
    val P = MersennePrime31
    val sh = {
      import org.apache.spark.sql.graftglue.ColumnGlue
      ColumnGlue.column(graft.expressions.ShingleHashes(
        ColumnGlue.expression(col("_toks"))))
    }
    val hc = {
      import org.apache.spark.sql.graftglue.ColumnGlue
      ColumnGlue.column(graft.expressions.HashCounts(
        ColumnGlue.expression(when(size(col("_toks")) >= 3, sh)
          .otherwise(array(col("_doc_h"))))))
    }
    val perDocShingle = nonNull
      .select(struct(col(srcCol).as("s"), col(idCol).as("i")).as("_sid"),
        (hash60(TextOps.normalize(col(textCol))) % P).as("_doc_h"),
        TextOps.tokens(col(textCol)).as("_toks"))
      .select(col("_sid"), explode(hc).as("_g"))
      .select(col("_g.h").as("_h"), col("_sid"), col("_g.c").as("_c"))
    // Stage 3: shingle-scale. For _nd = 1 the group holds ONE _sid, so
    // min(_sid.s) IS that document's source.
    val perShingle = perDocShingle.groupBy(col("_h"))
      .agg(sum(col("_c")).as("_no"), count(lit(1)).as("_nd"),
        min(col("_sid").getField("s")).as("_src"))
    val uniqOcc = perShingle.filter(col("_nd") === 1)
      .groupBy(col("_src")).agg(sum(col("_no")).as("_uniq"))
      .withColumnRenamed("_src", srcCol)
    // Stage 1: totals without exploding — per-doc shingle-row count is
    // size(tokens)−2 for ≥3-token docs and 1 (the whole-doc-hash fallback
    // row) otherwise; `tokens` is never empty so greatest(...,1) covers
    // both fallback cases.
    val totals = nonNull.groupBy(col(srcCol))
      .agg(sum(greatest(size(TextOps.tokens(col(textCol))) - 2, lit(1))
        .cast("long")).as("n_shingle_occ"))
    totals.join(broadcast(uniqOcc), Seq(srcCol), "left")
      .select(col(srcCol), col("n_shingle_occ"),
        (col("n_shingle_occ") - coalesce(col("_uniq"), lit(0L))).as("n_dup_occ"))
      .withColumn("dup_ppm", expr("n_dup_occ * 1000000 div n_shingle_occ"))
  }

  /** Train/test decontamination: for each train document, the fraction of
    * its distinct shingles that also occur anywhere in the test split
    * (n-gram-overlap contamination, the standard eval-leakage check).
    * Splits are content-addressed ([[Sampling.bucketOf]]) so membership is
    * stable; overlap is reported in integer ppm (portable — no float
    * division) with the flag at `thresholdPpm`.
    *
    * Scale: the test-side distinct shingle set is a fraction of the corpus
    * — broadcast it when it fits, fall back to a hash join on the shingle
    * when it doesn't. Either way no doc×doc work.
    *
    * Strategy selection, three tiers (each probed, never assumed):
    *  1. driver set (r19): one `kmv_mins(_h, cap+1)` job fetches the
    *     bottom-(cap+1) distinct test shingles with cap-BOUNDED aggregate
    *     state — ≤ cap values returned IS the complete sorted set (probe
    *     and fetch are the same bounded job; driver exposure ≤ cap+1 longs
    *     always) → it ships as ONE array Literal and the train side is
    *     MAP-ONLY via the native `count_in_sorted` probe: no broadcast
    *     build job, no join, no per-doc groupBy exchange (`driverTestSet`
    *     forces either way for specs);
    *  2. broadcast join: test split ≤ `broadcastMaxTestDocs` docs (LIMIT
    *     probe) → broadcast the distinct test shingles;
    *  3. shuffle join on the shingle hash — a misconfigured permille that
    *     captures half the corpus degrades to this instead of OOMing
    *     every executor on a broadcast (or the driver on tier 1). */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    testPermille: Int = 100, salt: String = "contam",
                    thresholdPpm: Long = 500000L,
                    broadcastTest: Option[Boolean] = None,
                    broadcastMaxTestDocs: Long = 1000000L,
                    driverTestSet: Option[Boolean] = None,
                    maxDriverTestShingles: Long = 2000000L): DataFrame = {
    val bucket = Sampling.bucketOf(col(idCol), salt)
    val testDocs = docs.filter(bucket < testPermille)
    // Per-doc distinct is ROW-LOCAL (r18, shingleHashRowsDistinctPerDoc):
    // the train side needs (id, _h) distinct — cross-doc rows are already
    // distinct by id, so the array_distinct covers it with NO shuffle
    // (the old corpus-scale distinct() on the near-unique (doc, shingle)
    // key was round-9 rule b in disguise). The test side still needs the
    // GLOBAL _h distinct (a shingle in two test docs must count once per
    // matching train shingle), but its input is the reduced per-doc-
    // distinct rows and its key is the lone hash column. No repartition on
    // the test side either way — it never groups by the doc id.
    val testShingleRows = shingleHashRowsDistinctPerDoc(testDocs,
      idCol, textCol, repartitionById = false).select(col("_h"))
    lazy val testShingles0 = testShingleRows.distinct()
    // MAP-ONLY fast path (r19): fetch the test split's distinct shingle
    // set ONCE as a SINGLE sorted-array row via the `kmv_mins(_h, cap+1)`
    // bounded probe-and-fetch below (no per-shingle Row boxing — a
    // take(cap+1) of ~1M individual rows measured driver-bound at sf1.0;
    // no separate probe job — the probe IS the fetch, with cap-bounded
    // aggregate state), ship it as one array Literal, and score every
    // train doc row-locally with the native count_in_sorted probe — no
    // broadcast-build job, no occurrence explode, no join, no per-doc
    // groupBy exchange, no train repartition. Driver exposure equals the
    // tier-2 broadcast path's (a broadcast set also materializes on the
    // driver). Tier 1 is guarded by the kmv_mins bound alone; the cheap
    // LIMIT doc-count probe (`testDocsSmall`) gates only the tier-2
    // broadcast join. A shingle count past `maxDriverTestShingles` falls
    // back to the join tiers bit-identically (spec pins path equality +
    // flip).
    val docProbe = math.min(broadcastMaxTestDocs, Int.MaxValue - 1L).toInt
    lazy val testDocsSmall = testDocs.limit(docProbe + 1).count() <= docProbe
    val cap = math.min(maxDriverTestShingles, Int.MaxValue - 8L).toInt
    // cap < 1 can't admit any driver set — skip straight to the join tiers
    // (also the spec's forced-flip lever); kmv_mins' k >= 2 contract is
    // satisfied via max(cap+1, 2) below.
    val tryDriverSet = driverTestSet.getOrElse(cap >= 1)
    val setOpt: Option[Array[Long]] = if (tryDriverSet) {
      // kmv_mins(_h, cap+1) — the bottom-(cap+1) DISTINCT hashes with
      // cap-BOUNDED aggregate state (a TreeSet of at most cap+1 longs per
      // partition). If the result holds ≤ cap values it IS the complete
      // sorted distinct test set; cap+1 values mean the set is bigger and
      // the join tiers take over. This replaces the r19 first cut's
      // fetch-then-check (`sort_array(collect_set(..))`), which collected
      // the WHOLE set before checking the cap — 144 MB of driver boxing on
      // a 1M-doc ScaleSmoke corpus whose split was always going to fall
      // back; the probe and the fetch are now the same ONE bounded job, so
      // no separate doc-count guard is needed either.
      val arr = testShingleRows
        .agg(org.apache.spark.sql.functions
          .expr(s"kmv_mins(_h, ${math.max(cap + 1, 2)})").as("_arr"))
        .head.getSeq[Long](0).toArray
      if (arr.length <= cap) Some(arr)
      else if (driverTestSet.contains(true)) // forced: complete the set anyway
        // a NULL-text test doc contributes one null _h row that survives
        // distinct(); getLong on it would NPE — the kmv/join tiers all
        // skip nulls, so filtering keeps the forced path bit-identical
        Some(testShingles0.filter(col("_h").isNotNull)
          .collect().map(_.getLong(0)).sorted)
      else None
    } else None
    if (setOpt.isDefined) {
      val set = setOpt.get // kmv_mins iterates its TreeSet ascending
      import org.apache.spark.sql.graftglue.ColumnGlue
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val setLit = Literal.create(set, ArrayType(LongType, containsNull = false))
      val matched = ColumnGlue.column(graft.expressions.CountInSorted(
        ColumnGlue.expression(col("_hs")), setLit))
      withPerDocDistinctShingles(docs.filter(bucket >= testPermille),
          idCol, textCol)
        .select(col(idCol), size(col("_hs")).cast("long").as("n_shingles"),
          matched.as("n_matched"))
        .withColumn("overlap_ppm", expr("n_matched * 1000000 div n_shingles"))
        .withColumn("contaminated", col("overlap_ppm") >= thresholdPpm)
    } else {
      val useBroadcast = broadcastTest.getOrElse(testDocsSmall)
      // Train-side repartition(id) is tier-dependent (r21, the r19b rule
      // at join scope): under the BROADCAST join it pre-clusters for the
      // groupBy(id), which then reuses the exchange (no shuffle after the
      // join). Under the SHUFFLE join the _h exchange destroys the id
      // clustering before the groupBy anyway, so repartitioning the
      // corpus-TEXT rows up front is a pure full-corpus shuffle — decade
      // wall-clock is floor-masked (A/B both orders a wash, R21Prof) but
      // the deleted exchange is corpus-text-scale at any size.
      val trainShingles = shingleHashRowsDistinctPerDoc(
        docs.filter(bucket >= testPermille), idCol, textCol,
        repartitionById = useBroadcast)
        .select(col(idCol), col("_h"))
      val testShingles = (if (useBroadcast) broadcast(testShingles0)
                          else testShingles0).withColumn("_m", lit(1L))
      trainShingles.join(testShingles, Seq("_h"), "left")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("_m"), lit(0L))).as("n_matched"))
        .withColumn("overlap_ppm", expr("n_matched * 1000000 div n_shingles"))
        .withColumn("contaminated", col("overlap_ppm") >= thresholdPpm)
    }
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    * HIGH-DIAMETER-safe alternative to [[connectedComponents]]: label
    * propagation needs `diameter` rounds, star contraction O(log²n) worst
    * case and a handful in practice, because each round rewires nodes
    * directly to their neighborhood minimum instead of walking one hop.
    *
    * Per round each star is one groupBy(min) + one join — the same
    * shuffle primitives as propagation, same output contract: (node,
    * label = component min) for every node appearing in `pairs`.
    * Convergence is detected by a (count, Σa, Σb) signature of the
    * canonical edge set going stable across a full round, then PROVEN by a
    * final star-shape assertion (every non-root has exactly one neighbor:
    * its root; roots never appear as a larger endpoint) — a signature
    * collision cannot return wrong labels, only an exception. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIters: Int = 25,
                              smallEdgeCap: Int = ccSmallEdgeCap): DataFrame =
    ccDriverLabels(pairs, aCol, bCol, smallEdgeCap).getOrElse(
      connectedComponentsStarDistributed(pairs, aCol, bCol, maxIters))

  /** Large-star/small-star contraction — the distributed path of
    * [[connectedComponentsStar]]. */
  def connectedComponentsStarDistributed(pairs: DataFrame, aCol: String,
                                         bCol: String,
                                         maxIters: Int = 25): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // One materialization of the input edge list: it seeds the contraction
    // AND rebuilds the node set at the end (canon drops self-loops, so the
    // node set cannot be recovered from the contracted edges) — without the
    // cut the caller's whole candidate pipeline runs once per consumer.
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).transform(Lineage.cut)
    var edges = canon(p)
      .transform(Lineage.cut)
    def directed(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))
    def signature(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)), sum(col("a").cast("decimal(38,0)")),
        sum(col("b").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    var sig = signature(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val d = directed(edges)
      // large-star: every neighbor v > u links to u's neighborhood min
      val mins = d.groupBy(col("a")).agg(min(col("b")).as("_mn"))
        .select(col("a").as("_u"), least(col("a"), col("_mn")).as("_m"))
      val large = canon(d.filter(col("b") > col("a"))
        .join(mins, d("a") === col("_u"))
        .select(col("b").as("a"), col("_m").as("b"))).transform(Lineage.cut)
      // small-star: every neighbor v <= u (and u itself) links to the min
      // of u's small neighborhood
      val dl = directed(large)
      val sm = dl.filter(col("b") <= col("a"))
      val smins = sm.groupBy(col("a")).agg(min(col("b")).as("_m"))
        .select(col("a").as("_u"), col("_m"))
      val next = canon(
        sm.join(smins, sm("a") === col("_u"))
          .select(col("b").as("a"), col("_m").as("b"))
          .union(smins.select(col("_u").as("a"), col("_m").as("b"))))
        .transform(Lineage.cut)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      i += 1
    }
    // star-shape proof: each larger endpoint has exactly one (root)
    // neighbor, and no root also hangs off another star
    val badLeaf = edges.groupBy(col("b")).agg(countDistinct(col("a")).as("n"))
      .filter(col("n") > 1).limit(1).count()
    val badRoot = edges.select(col("a")).distinct()
      .join(edges.select(col("b")).distinct(),
        col("a") === col("b"), "left_semi").limit(1).count()
    if (!converged || badLeaf > 0 || badRoot > 0) throw new IllegalStateException(
      s"connectedComponentsStar not a star set after $i rounds " +
        s"(converged=$converged badLeaf=$badLeaf badRoot=$badRoot)")
    // Checkpointed: the label table feeds the output union AND the
    // singleton anti-join below — the distinct would otherwise re-shuffle
    // per consumer.
    val starLabels = edges.select(col("b").as("node"), col("a").as("label"))
      .union(edges.select(col("a").as("node"), col("a").as("label")).distinct())
      .transform(Lineage.cut)
    // canon() drops self-loops, so a node whose only pairs are (n, n) has
    // no star edge — restore it as its own singleton cluster to keep the
    // "every node appearing in pairs" contract propagation honors.
    val allNodes = p.select(col("a").as("node"))
      .union(p.select(col("b").as("node"))).distinct()
    starLabels.unionByName(
      allNodes.join(starLabels.select(col("node")), Seq("node"), "left_anti")
        .withColumn("label", col("node")))
  }

  /** SimHash at `bits` width (≤ 60 — the bit budget of the portable
    * 60-bit token hash): explode tokens, sum ±1 per bit position of each
    * token's hash, reassemble the sign bits. Two narrow passes + one
    * groupBy on the doc id; the aggregate is `bits` map-side sums. */
  def simhashWide(docs: DataFrame, idCol: String, textCol: String,
                  bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, "simhash width must be in [1, 60]")
    // Native simhash_fp: the whole fingerprint in one JVM loop per doc —
    // MAP-ONLY (no token explode, no doc-keyed exchange). The former
    // exploded 60-sum aggregate shipped every token occurrence through a
    // shuffle; same-run A/B in BENCHNOTES round-10 session-5. NULL
    // fingerprint = no non-empty tokens = the doc the exploded form
    // dropped (matches oracle).
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), expr(s"simhash_fp(_toks, $bits)").as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash (16-bit, portable) — the compact fingerprint surface. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWide(docs, idCol, textCol, 16)

  /** SimHash near-dup pairs, Manku-style (WWW'07): band the 60-bit
    * fingerprint into 4×15-bit keys, bucket-join per band (any shared
    * band is a candidate — pigeonhole guarantees recall for hamming ≤ 3
    * over 4 bands), then verify `bit_count(xor)` ≤ `maxHamming` on
    * candidates only. Reuses [[candidatePairs]], so the mega-bucket skew
    * cap and its observe metric ride along.
    *
    * Width IS the scale lever (Manku uses 64-bit/16-bit bands): a 16-bit
    * proxy has only 2⁴ buckets per band, which makes candidate volume
    * corpus²/64 — at 5 k docs that was 12.1 M candidate slots / 1.03 M
    * hamming-passing but mostly-spurious pairs; 60 bits (2¹⁵ buckets per
    * band) collapses that to 281 k slots / 573 real near-dup pairs, and
    * the same-run A/B (both orders) had the wide shape 1.7× faster warm
    * (1.5-1.6 s vs 2.5-2.7 s) despite its 60-sum fingerprint aggregate.
    * 60 rather than 64 because the portable sha-derived token hash is
    * 60-bit. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sh = simhashWide(docs, idCol, textCol, 60)
      .transform(Lineage.cut) // feeds the band explode AND both verify joins
    val banded = sh.select(col(idCol),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), 15 * b).bitwiseAND(0x7fff)): _*))
        .as(Seq("band", "bucket")))
    // r20: pair slots stay UN-deduplicated through the verify — the
    // hamming bit_count is ~free per slot, so the multi-band duplicates
    // are deduped on the SURVIVOR set (r17 rule d; hamming is a function
    // of the pair, so distinct over (pair, hamming) ≡ distinct over the
    // pair). The former candidate-scale distinct() shuffled 4.1M slots at
    // the sf1.0 decade to protect a filter that keeps a few thousand.
    candidatePairsRaw(banded, idCol)
      .join(sh.select(col(idCol).as("id_a"), col("simhash").as("_ha")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("simhash").as("_hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Cross-source overlap matrix: estimated shingle-set Jaccard between
    * every pair of sources — the "which feeds copy from each other"
    * curation report.
    *
    * Scale shape: one shingle pass per corpus feeding a per-source KMV
    * bottom-k sketch ([[graft.expressions.KmvSketch]] — k-bounded state,
    * map-side partials, the sketch dedups internally so no corpus-scale
    * `distinct()` on (source, shingle) is ever formed, round-6 rule (b)).
    * The pairwise stage runs on SOURCES² rows of k-length arrays —
    * broadcast nested-loop on the `<` condition, bounded work regardless
    * of corpus size. Estimator: with M = bottom-k of A∪B (the union
    * sketch, computable from the two sketches), Ĵ = |M ∩ A ∩ B| / |M| —
    * the standard KMV Jaccard estimator, integer-deterministic here
    * because membership is by content-addressed hash, so the oracle
    * replays it exactly.
    *
    * Output: (src_a, src_b, kk, inter_cnt, jaccard_ppm), src_a < src_b. */
  def sourceOverlap(docs: DataFrame, srcCol: String, idCol: String,
                    textCol: String, k: Int = 256): DataFrame = {
    val rows = shingleHashRows(
      docs.select(struct(col(srcCol).as("s"), col(idCol).as("i")).as("_sid"),
        col(textCol)),
      "_sid", textCol)
    // one row per source (k-length array) — feeds BOTH pairwise sides, so
    // checkpoint or the corpus-scale shingle pass runs twice (rule 4d)
    val sk = rows.select(col("_sid.s").as("src"), col("_h"))
      .groupBy(col("src")).agg(expr(s"kmv_mins(_h, $k)").as("mins"))
      .transform(Lineage.cutLazy)
    val a = sk.select(col("src").as("src_a"), col("mins").as("_am"))
    val b = sk.select(col("src").as("src_b"), col("mins").as("_bm"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("_m", slice(array_sort(array_union(col("_am"), col("_bm"))), 1, k))
      .withColumn("kk", least(lit(k), size(col("_m"))).cast("long"))
      .withColumn("inter_cnt",
        size(filter(col("_m"),
          h => array_contains(col("_am"), h) && array_contains(col("_bm"), h)))
          .cast("long"))
      .select(col("src_a"), col("src_b"), col("kk"), col("inter_cnt"),
        expr("inter_cnt * 1000000 div kk").as("jaccard_ppm"))
  }

  /** One (bands, rowsPerBand) candidate the LSH planner scored. `pAt*` are
    * collision probabilities 1-(1-s^r)^b at similarities just below/at the
    * target threshold. */
  final case class LshPlan(bands: Int, rowsPerBand: Int, numPerms: Int,
                           thresholdAtCurve: Double,
                           pAtThreshold: Double, pBelow: Double)

  /** LSH parameter advisor: choose (bands, rows-per-band) for a target
    * Jaccard threshold from the banding S-curve. A pair with similarity s
    * collides with probability p(s) = 1 − (1 − s^r)^b, and the curve's
    * steepest point sits at t ≈ (1/b)^(1/r) — the planner enumerates the
    * divisor grid of `numPerms` and picks the factorization whose knee is
    * closest to the target (ties → more bands = higher recall, the
    * dedup-side bias: a missed duplicate costs more than a wasted verify).
    *
    * Driver-scale closed-form math — the knobs this chooses govern the
    * corpus-scale operators ([[lshBuckets]], [[candidatePairs]]), the
    * planner itself never touches data. Mirrors the published
    * MinHashLSH tuning rule (Leskovec/Rajaraman/Ullman, Mining of Massive
    * Datasets §3.4.3 — public reference, not reference-repo code). */
  def lshPlan(targetThreshold: Double, numPerms: Int): LshPlan = {
    require(targetThreshold > 0 && targetThreshold < 1, "threshold in (0,1)")
    require(numPerms >= 2, "need at least 2 permutations")
    def pCollide(s: Double, r: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val candidates = (1 to numPerms).filter(numPerms % _ == 0).map { b =>
      val r = numPerms / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    // distance to target, ties broken toward MORE bands (higher recall)
    val (b, r, knee) = candidates.minBy { case (bb, _, t) =>
      (math.abs(t - targetThreshold), -bb)
    }
    LshPlan(b, r, numPerms, knee,
      pAtThreshold = pCollide(targetThreshold, r, b),
      pBelow = pCollide(targetThreshold * 0.5, r, b))
  }
}
