package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, mirroring how ANN is actually deployed on Spark:
  *  - [[bruteForceTopK]] — exact scan; the baseline and the per-bucket inner
  *    loop. The cross join is bounded: |queries| × |corpus|, with the query
  *    side broadcast, so the corpus is streamed once, never shuffled.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus and queries bucketed by
  *    sign bits, candidates meet only within a bucket. At 100 TB the bucket
  *    key is the shuffle/partition key and each bucket is a small fraction
  *    of the corpus; recall is tuned by the number of hyperplanes.
  *
  * Scores are computed on quantized vectors (`round(x*1000)` per element,
  * int64 dot product) — deterministic to the bit in any engine, which makes
  * top-k rankings oracle-checkable; cosine on raw floats is also provided
  * for production use where cross-engine hashing is not needed.
  */
object Similarity {

  /** Quantize a FLOAT embedding to int64 milli-units — native
    * [[graft.expressions.QuantizeMilli]] (one compiled loop per row; the
    * former `transform(vec, x -> round(x * 1000).cast(long))` ran 64
    * interpreted lambda evals with a BigDecimal-backed round per row on
    * EVERY encode of every ann query — the r17 sf1.0 decade exposed it as
    * the family's per-row constant). Bit-equality with the HOF form is
    * pinned by QuantizeMilliSpec; [[quantizeHof]] stays as the reference
    * implementation. Accepts ARRAY<FLOAT> (the embeddings schema) and
    * ARRAY<DOUBLE> (derived/averaged vectors — the double branch skips the
    * float→double promotion, matching the HOF arithmetic; r18 advice fix).
    * Built via ColumnGlue so it resolves in sessions without
    * GraftExtensions; the SQL name stays registered for oracle use. */
  def quantize(vec: Column): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    ColumnGlue.column(graft.expressions.QuantizeMilli(ColumnGlue.expression(vec)))
  }

  /** The HOF reference form of [[quantize]] (spec cross-check only). */
  private[ops] def quantizeHof(vec: Column): Column =
    transform(vec, x => round(x * 1000).cast("long"))

  // ---------------------------------------------------------------------
  // Small-corpus fast path machinery (round 7).
  //
  // The five toy-corpus ANN/embedding queries each ran ~6 shuffle stages
  // against an 800-2000-vector corpus — every stage pure fixed cost at that
  // size (9-17× DuckDB). The fast path fuses encode+score into map-side
  // literal expressions + one broadcast join, mirroring `decontaminate`'s
  // auto-selection: a corpus that verifiably fits [[smallCorpusCap]] rows
  // takes the fused plan; anything larger (or with unknown stats) keeps the
  // exploded codegen pipeline that scales out. Outputs are bit-identical —
  // the paths are cross-checked by spec and by the DuckDB oracle.
  //
  // See the helper-block comment below for the two measured rules that
  // shape the fused expressions (quantize once per row in its own select;
  // HOF lambdas, never flattened element_at chains).
  // ---------------------------------------------------------------------

  /** Rows a corpus may have and still take the fused broadcast path.
    * Override via SPARK_GRAFT_ANN_SMALL_CAP; 0 disables the fast path.
    *
    * 32768 (r17, was 8192): the cap bounds DRIVER state — 32k rows ×
    * 64 dims × 8 B = 16 MB collected, and every fused path's driver
    * compute is k- or dim-bounded on top of it — so the guard is memory,
    * not cores. Raised after the sf1.0 decade (20k vectors) pushed the
    * iterative drivers onto their distributed paths for pure job floor:
    * ann_mmr_topk paid its 8 map-only rounds at 2.1-3.0 s vs 0.26-0.5 s
    * fused (same-window A/B, both orders; recall_at_k ~0.3 s better,
    * everything else a wash). The distributed twins remain spec-pinned
    * bit-identical and ScaleSmoke forces them via smallCap = 0. */
  val smallCorpusCap: Long =
    sys.env.get("SPARK_GRAFT_ANN_SMALL_CAP").map(_.toLong).getOrElse(32768L)

  /** Minimum centroid count for the two-level coarse quantizer to engage
    * (below it the √C super-level saves nothing over the flat argmax).
    * Shared with the oracles that replay the dispatch — keep in sync. */
  val twoLevelCellsDefault: Int = 32

  /** Stats pre-filter for the row probe: a corpus whose optimizer size
    * estimate exceeds this never probes (at 100 TB the decision is free). */
  private val smallCorpusBytes = BigInt(8L << 20)

  private val fitsCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      java.lang.Boolean]())

  /** True when `corpus` verifiably has ≤ `cap` rows: optimizer size
    * estimate under [[smallCorpusBytes]] AND a LIMIT-bounded count probe
    * (reads at most cap+1 rows, never the corpus — the
    * `DedupOps.decontaminate` pattern). Memoized per analyzed plan, so the
    * registry's shared corpus DataFrame pays one probe per session. */
  def fitsSmallCorpus(corpus: DataFrame, cap: Long = smallCorpusCap): Boolean =
    cap > 0 && {
      def probe(): Boolean =
        corpus.queryExecution.optimizedPlan.stats.sizeInBytes <= smallCorpusBytes &&
          // clamp: a cap override near Long.MaxValue must degrade to "probe
          // at Int range", not overflow limit() into an AnalysisException
          corpus.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).count() <= cap
      if (cap != smallCorpusCap) probe() // memo is per-plan; only the default cap caches
      else {
        val key = corpus.queryExecution.analyzed
        val cached = fitsCache.get(key)
        if (cached != null) cached.booleanValue()
        else {
          val fits = probe()
          fitsCache.put(key, java.lang.Boolean.valueOf(fits))
          fits
        }
      }
    }

  // The fused expressions operate on a QUANTIZED array column produced by
  // one [[quantize]] projection per row in a SEPARATE select below them
  // (CollapseProject does not inline a non-cheap projection referenced
  // more than once — verified on this Spark), and they compute with the
  // HOF forms (zip_with/aggregate lambdas), NOT flattened element_at
  // chains. Both alternatives were built and measured and both LOSE:
  //  - per-access inline quantization re-runs Spark's BigDecimal-backed
  //    float round() k× per element (3-5× slower);
  //  - flattened k×dim-node literal expression chains codegen into methods
  //    far past the JIT's size limits, so the generated bytecode runs in
  //    the JVM INTERPRETER — the bucket self-join went 1.9 s → 5-90 s.
  //    ann_lsh_topk's per-row HOF key + broadcast join (0.6-0.9 s) is the
  //    existence proof for the shape used here.

  private def litArr(w: Array[Long]): Column = typedLit(w.toSeq)

  /** Int64 dot product of a FULL-WIDTH quantized array column against
    * literal weights of the same length (HOF form; same left-assoc
    * ascending-index fold as [[qdot]], and int64 addition is associative
    * anyway). zip_with pads unequal lengths with nulls, so callers with a
    * sub-vector use [[qdotLitSub]] — never this with short weights. */
  private def qdotLitQ(qv: Column, w: Array[Long]): Column =
    qdot(qv, litArr(w))

  /** Int64 dot product of the [off, off+|w|) SLICE of a quantized array
    * column vs literal weights (PQ subspaces). */
  private def qdotLitSub(qv: Column, off: Int, w: Array[Long]): Column =
    qdot(slice(qv, off + 1, w.length), litArr(w))

  /** Int64 squared-L2 of a quantized array column slice vs literal
    * weights (HOF form). */
  private def qdist2LitQ(qv: Column, off: Int, w: Array[Long]): Column =
    qdist2(slice(qv, off + 1, w.length), litArr(w))

  /** Int64 dot product of two quantized array columns (HOF form; `dim`
    * kept for signature stability — the fold runs over the zipped
    * arrays). */
  private def qdotFlat(a: Column, b: Column, dim: Int): Column = qdot(a, b)

  /** Squared norm of a quantized array column. */
  private def qnorm2Q(qv: Column, dim: Int): Column = qdot(qv, qv)

  /** Id of the max-scoring entry; ties to the LOWEST id (struct ordering on
    * (score, -id), exactly the `max_by(cid, struct(score, -cid))` and
    * ORDER BY score DESC, cid semantics of the aggregate paths). */
  private def argmaxIdLit(entries: Seq[(Column, Long)]): Column =
    -array_max(array(entries.map { case (s, id) =>
      struct(s.as("s"), lit(-id).as("n")) }: _*)).getField("n")

  /** Session-persisted trained-model memo — see [[ModelMemo]] (the shared
    * doctrine statement): deterministic training + canonical-plan keying
    * make the memo bit-invisible; values are k×dim driver state. */
  private def memoModel[T <: AnyRef](corpus: DataFrame, tag: String)(train: => T): T =
    ModelMemo.memo(corpus, tag)(train)

  /** First `n` corpus vectors (vec_id < n) as driver arrays, quantized and
    * sorted by id — the deterministic seed used by IVF/k-means/PQ. The
    * collect is n-BOUNDED (centroid/codebook scale, ≤ tens of rows), never
    * corpus-scale: the same class as the watermark-scalar collects. */
  def firstK(corpus: DataFrame, n: Long): IndexedSeq[(Long, Array[Long])] =
    corpus.filter(col("vec_id") < n)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toIndexedSeq

  /** Integer dot product of two quantized vectors (session-independent —
    * direct expression, no GraftExtensions dependency). */
  def qdot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    ColumnGlue.column(graft.expressions.QDot(
      ColumnGlue.expression(a), ColumnGlue.expression(b)))
  }

  /** The HOF form [[qdot]] replaced (kept for the null-semantics contract
    * statement in QVec.scala's scaladoc and as the reference
    * implementation the spec cross-checks). */
  private[ops] def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Integer squared-L2 distance of two quantized vectors. */
  def qdist2(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    ColumnGlue.column(graft.expressions.QDist2(
      ColumnGlue.expression(a), ColumnGlue.expression(b)))
  }

  private[ops] def qdist2Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  // (r19) the float `cosine` HOF helper was DELETED: unused by any
  // registered query for three rounds, and every pair-stage caller must
  // quantize once and score with the native qdot/qdist2 kernels anyway
  // (r16 rule c — the interpreted 3-lambda chain cost the ann family
  // 2-14×). Ad-hoc float scoring composes from built-ins in one line;
  // keeping a ready-made footgun named `cosine` invited exactly the
  // mistake the kernels exist to prevent (r17/r18 verdict hygiene note).

  /** Scalar (SQ8) quantization — the standard index-compression companion
    * to PQ (a FAISS `SQ8`-style codec): per-dimension min/max calibration
    * over the corpus, then each milli-quantized component maps to a byte
    * code `(v−min)·255 div span` with reconstruction `min + code·span div
    * 255`. Everything after the milli step is INTEGER arithmetic (div
    * truncation, span ≥ 1 guard on constant dims), so the DuckDB oracle
    * replays codes and error sums hash-exactly.
    *
    * Scale shape: calibration is ONE posexplode + per-dimension min/max
    * aggregation (map-side combined; the shuffle carries dim×partitions
    * rows) whose dim-bounded result is collected (annotated: dimension
    * scale, never corpus scale) and re-enters as literal arrays — the
    * driver-held-model pattern (k-means centroids, PCA eigenvector).
    * Encoding is then map-only. Ragged vectors are filtered UP FRONT
    * (round-10 s4 rule d) so calibration, encoding, and any oracle WHERE
    * see the same row set. Returns (idCol, codes_str, sum_abs_err_milli):
    * codes as a comma-joined string (the comparator's array-allergy
    * dodge), the error in milli units — the readout that says whether
    * SQ8's ~4× memory saving is affordable for a given corpus. */
  def sq8Quantize(emb: DataFrame, idCol: String, embCol: String,
                  dims: Int = 64): DataFrame = {
    // ragged filter FIRST so calibration and encoding see the same rows
    val q = emb.select(col(idCol), quantize(col(embCol)).as("_v"))
      .filter(size(col("_v")) === dims)
    // dimension-scale collect (≤ dims rows), never corpus-scale
    val stats = q.select(posexplode(col("_v")).as(Seq("_p", "_x")))
      .groupBy(col("_p")).agg(min(col("_x")).as("mn"), max(col("_x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val mnLit = array(stats.map(s => lit(s._2)): _*)
    val spLit = array(stats.map(s => lit(math.max(1L, s._3 - s._2))): _*)
    // Encode + error in ONE native pass ([[graft.expressions.Sq8Encode]]):
    // the former 4-pass HOF chain (diff/code/recon/|err| zip_with +
    // aggregate) ran ~256 interpreted lambda evals per row (round-9 rule
    // a); the kernel replicates its arithmetic and null contract
    // bit-for-bit (Sq8Spec recomputes both from the driver).
    import org.apache.spark.sql.graftglue.ColumnGlue
    val enc = ColumnGlue.column(graft.expressions.Sq8Encode(
      ColumnGlue.expression(col("_v")),
      ColumnGlue.expression(mnLit),
      ColumnGlue.expression(spLit)))
    q.select(col(idCol), enc.as("_e"))
      .select(col(idCol), col("_e.codes_str").as("codes_str"),
        col("_e.err").as("sum_abs_err_milli"))
  }

  /** Quantized elements as rows: (vec_id, _i, _q) — the layout for
    * codegen-path scoring at corpus scale. */
  def elementRows(df: DataFrame): DataFrame =
    df.repartition(col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_i", "_x")))
      .select(col("vec_id"), col("_i"),
        round(col("_x").cast("double") * 1000).cast("long").as("_q"))

  /** Exact dot products for an arbitrary candidate-pair set, computed
    * matrix-multiply-style: pairs join the element table per side and
    * reduce with one hash aggregation — every operator whole-stage codegen.
    *
    * This is the shape for LARGE candidate sets (the in-row
    * `zip_with`+`aggregate` scoring runs interpreted at ~µs/element, which
    * is fine for thousands of pairs and fatal for billions); the cost here
    * is two shuffles of |pairs|×dim element rows, which scales out
    * horizontally. */
  def scorePairsExact(pairs: DataFrame, corpus: DataFrame): DataFrame = {
    val e = elementRows(corpus)
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("_i"), col("_q").as("_qa")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("_i"), col("_q").as("_qb")), Seq("id_b", "_i"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("_qa") * col("_qb")).as("score"))
  }

  /** Per-query top-k of a `(query_id, vec_id, score, …)` candidate table via
    * the bounded-state [[graft.expressions.TopKPairs]] native aggregate —
    * the scale-correct replacement for the former
    * `row_number().over(Window.partitionBy(query_id))` shape: a rank window
    * shuffles and sorts EVERY candidate of a query in ONE task (with few
    * queries and a large corpus that is the whole corpus in one executor),
    * while this aggregate keeps k pairs per (partition, query) map-side and
    * the exchange carries only k·partitions pairs per query. The aggregate
    * orders (score DESC, id ASC) — identical to the window's
    * `ORDER BY score DESC, vec_id` — so `posexplode` position + 1 IS the
    * rank and results are bit-identical to the oracle's `row_number()`.
    *
    * `carry` names extra group-key columns functionally determined by
    * `query_id` (e.g. the LSH bucket) that must survive into the output;
    * grouping on them adds no groups.
    *
    * The aggregate Columns are built from the Expression directly
    * (ExpressionUtils.column), not via `expr("topk_pairs(…)")` — these
    * operators must work in ANY SparkSession, not only ones with
    * [[graft.GraftExtensions]] registered (ScaleSmoke and library consumers
    * build plain sessions). */
  private def topkPairsCol(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    ColumnGlue.column(graft.expressions.TopKPairs(
      ColumnGlue.expression(score), ColumnGlue.expression(id),
      org.apache.spark.sql.catalyst.expressions.Literal(k)).toAggregateExpression())
  }

  private def topkPairsTagCol(score: Column, id: Column, tag: Column, k: Int): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    ColumnGlue.column(graft.expressions.TopKPairsTagged(
      ColumnGlue.expression(score), ColumnGlue.expression(id),
      ColumnGlue.expression(tag),
      org.apache.spark.sql.catalyst.expressions.Literal(k)).toAggregateExpression())
  }

  private def topKByQuery(scored: DataFrame, k: Int,
                          carry: Seq[String] = Nil): DataFrame =
    scored
      .groupBy((col("query_id") +: carry.map(col)): _*)
      .agg(topkPairsCol(col("score"), col("vec_id"), k).as("_top"))
      .select((col("query_id") +: carry.map(col)) :+
        posexplode(col("_top")).as(Seq("_r", "_p")): _*)
      .select((Seq(col("query_id"), (col("_r") + 1).as("rank"),
        col("_p").getField("id").as("vec_id"),
        col("_p").getField("score").as("score")) ++ carry.map(col)): _*)

  /** [[topKByQuery]] with a per-candidate payload column (the IVF cluster
    * id) carried through [[graft.expressions.TopKPairsTagged]] — the tag
    * rides in the aggregation buffer, so no join-back against the
    * corpus-scale assignment table is needed to recover it. */
  private def topKByQueryTagged(scored: DataFrame, k: Int,
                                tag: String, tagAs: String,
                                carry: Seq[String] = Nil): DataFrame =
    scored
      .groupBy((col("query_id") +: carry.map(col)): _*)
      .agg(topkPairsTagCol(col("score"), col("vec_id"), col(tag), k).as("_top"))
      .select((col("query_id") +: carry.map(col)) :+
        posexplode(col("_top")).as(Seq("_r", "_p")): _*)
      .select((Seq(col("query_id"), (col("_r") + 1).as("rank"),
        col("_p").getField("id").as("vec_id"),
        col("_p").getField("score").as("score"),
        col("_p").getField("tag").as(tagAs)) ++ carry.map(col)): _*)

  /** Exact top-k neighbours per query by quantized dot product.
    * `queries` is expected small (it is broadcast); ties break on vec_id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), quantize(col("embedding")).as("qv")))
    val c = corpus.select(col("vec_id"), quantize(col("embedding")).as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", qdot(col("qv"), col("cv")))
    topKByQuery(scored, k)
  }

  /** Chunk→document mean pooling: average the quantized embeddings of a
    * group (the chunks of one document) into one vector, exactly —
    * per-dimension BIGINT sum then truncating `div`, so the pooled vector
    * is bit-identical in any engine (float means are not).
    *
    * Shape: ONE hash aggregation on the group key. `collect_list` state is
    * bounded by chunks-per-document (a document's chunk count is
    * length/stride, capped by the chunker — NOT data-scale), partial
    * aggregation merges lists map-side, and the per-group fold is one
    * zip_with pass over ≤ chunks×dim elements. No explode, no per-dim
    * shuffle rows: the exchange carries one array per document, the same
    * bytes a per-dimension (group, dim) key shape would ship in 64 rows. */
  def meanPool(emb: DataFrame, group: Column, dim: Int = 64): DataFrame =
    emb.select(group.as("group_id"), quantize(col("embedding")).as("_v"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_chunks"), collect_list(col("_v")).as("_vs"))
      .withColumn("pooled", expr(
        s"""transform(
           |  aggregate(_vs, array_repeat(CAST(0 AS BIGINT), $dim),
           |            (acc, x) -> zip_with(acc, x, (a, b) -> a + b)),
           |  s -> s div n_chunks)""".stripMargin))
      .select(col("group_id"), col("n_chunks"), col("pooled"))

  /** Deterministic pseudo-random hyperplanes: element i of plane j is
    * `((i*31 + j*17) mod 101) - 50` — small ints, identical in any engine.
    * The modulus must dwarf the plane count: with a small modulus m the
    * family is periodic in j with period m/gcd(17,m), so distinct j values
    * can alias to the SAME hyperplane and extra planes/bands add no
    * discrimination (the original mod-7 family made every 8-plane band
    * identical). 101 is prime and > any plane count used here, so all
    * planes are distinct. */
  def hyperplane(j: Int, dim: Int): Column =
    array((0 until dim).map(i => lit(((i * 31 + j * 17) % 101 - 50).toLong)): _*)

  /** LSH bucket key: sign bits of the dot products with `planes`
    * hyperplanes (per-row HOF form; [[lshBucketOf]] is the codegen form
    * used on large corpora). */
  def lshKey(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes)
      .map(j => when(qdot(quantize(vec), hyperplane(j, dim)) >= 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)

  /** (vec_id, bucket) computed on the codegen path: elements exploded once,
    * all plane dot products as conditional SUMs in one map-side-combined
    * groupBy — the per-row HOF form evaluates `planes × dim` interpreted
    * lambdas per vector, which dominates at corpus scale. */
  def lshBucketOf(df: DataFrame, planes: Int): DataFrame = {
    val el = df.repartition(col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_i", "_x")))
      .select(col("vec_id"), col("_i"),
        round(col("_x").cast("double") * 1000).cast("long").as("_q"))
    val sums = (0 until planes).map { j =>
      sum(col("_q") * (((col("_i") * 31 + j * 17) % 101) - 50)).as(s"_d$j")
    }
    el.groupBy(col("vec_id")).agg(sums.head, sums.tail: _*)
      .select(col("vec_id"),
        (0 until planes).map(j => when(col(s"_d$j") >= 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("bucket"))
  }

  /** Embedding-cosine near-duplicate candidates: vectors sharing an LSH
    * bucket whose exact cosine clears `minCos`. The bucket key bounds the
    * self-join (Σ bucket² pairs, never all-pairs); `planes` trades recall
    * against bucket size — at 50k vectors, 12 planes keeps buckets ~12 wide.
    * Scoring is exact on the quantized vectors: `dot > minCos·√(|a|²·|b|²)`
    * in int64/IEEE arithmetic, so results are engine-portable. */
  def embeddingNearDup(corpus: DataFrame, minCos: Double,
                       planes: Int = 12, dim: Int = 64,
                       smallCap: Long = smallCorpusCap): DataFrame = {
    val keyed =
      if (fitsSmallCorpus(corpus, smallCap))
        // Fused: bucket + norm are literal expressions over the
        // once-quantized vector (one map, no explode/aggregate/join-back),
        // so the whole candidate generation is a single broadcast hash
        // self-join.
        corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
          .select(col("vec_id"), col("qv"),
            lshKeyQ(col("qv"), planes, dim).as("bucket"),
            qnorm2Q(col("qv"), dim).as("n2"))
          .hint("broadcast")
      else
        corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
          .join(lshBucketOf(corpus, planes), Seq("vec_id"))
          .withColumn("n2", qdot(col("qv"), col("qv")))
    val a = keyed.select(col("bucket"), col("vec_id").as("id_a"),
      col("qv").as("qa"), col("n2").as("na2"))
    val b = keyed.select(col("bucket"), col("vec_id").as("id_b"),
      col("qv").as("qb"), col("n2").as("nb2"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", qdotFlat(col("qa"), col("qb"), dim))
      .filter(col("score") > lit(minCos) * sqrt((col("na2") * col("nb2")).cast("double")))
      .withColumn("cos_milli",
        floor(col("score") * 1000 / sqrt((col("na2") * col("nb2")).cast("double"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("score"), col("cos_milli"), col("bucket"))
  }

  /** Literal-hyperplane LSH bucket over a QUANTIZED embedding column — the
    * fused-path form of [[lshKey]]: same sign-bit semantics, flat
    * codegen-able arithmetic, `planeOffset` selects a band's plane family
    * (global plane index = planeOffset + j, bit position j). */
  def lshKeyQ(qv: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes).map { j =>
      val w = Array.tabulate(dim)(i => ((i * 31 + (planeOffset + j) * 17) % 101 - 50).toLong)
      when(qdot(qv, litArr(w)) >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** (vec_id, band, bucket) for `bands` independent hyperplane sets, all
    * computed in ONE pass over the element rows (a single groupBy with
    * `bands × planesPerBand` conditional sums, then one explode) — banding
    * trades precision for recall exactly like MinHash-LSH banding: a pair
    * is a candidate if it collides in ANY band, so recall rises
    * exponentially with bands while each band's buckets stay selective. */
  def lshBandBuckets(df: DataFrame, bands: Int, planesPerBand: Int): DataFrame = {
    val el = df.repartition(col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_i", "_x")))
      .select(col("vec_id"), col("_i"),
        round(col("_x").cast("double") * 1000).cast("long").as("_q"))
    val total = bands * planesPerBand
    val sums = (0 until total).map { j =>
      sum(col("_q") * (((col("_i") * 31 + j * 17) % 101) - 50)).as(s"_d$j")
    }
    val bandBucket = (b: Int) =>
      (0 until planesPerBand)
        .map(j => when(col(s"_d${b * planesPerBand + j}") >= 0, lit(1L << j)).otherwise(0L))
        .reduce(_ + _)
    el.groupBy(col("vec_id")).agg(sums.head, sums.tail: _*)
      .select(col("vec_id"),
        posexplode(array((0 until bands).map(bandBucket): _*)).as(Seq("band", "bucket")))
  }

  /** Multi-band embedding near-dup: like [[embeddingNearDup]] but a pair
    * qualifies when it shares a bucket in ANY of `bands` plane sets —
    * distinct candidate pairs are scored exactly once. At corpus scale the
    * self-join is per (band, bucket), so the shuffle key stays selective
    * while banding recovers the near-neighbours a single plane set splits
    * apart (each extra band only adds |corpus| rows to the bucket join,
    * never all-pairs work).
    *
    * MEGA-CLUSTER ADJUDICATION (r20, measured on the skewed decade, 20k
    * vectors with a ~2.3k hot clique; numbers in CLAUDE.md's round-20
    * rule (c)): a recall-preserving hot-bucket sub-split does NOT exist.
    * Re-keying buckets > 1000 with +2/+4 extra hyperplanes cut candidate
    * slots only 17.59M → 16.77M/16.58M (−4.7%/−5.7%) while LOSING 67k/85k of the
    * 2.93M true output pairs (2.3%/2.9% recall) and running SLOWER (the
    * sub-key join costs more than the slots it saves). The physics: a
    * tight cosine cluster is sign-invariant under random hyperplanes —
    * sub-splits cannot separate what the similarity threshold holds
    * together, they only shear off boundary members, and every sheared
    * pair is a TRUE pair (the verify yield inside the hot buckets is
    * ~37%, so the quadratic is mostly in the OUTPUT, not wasted
    * verification). Deployment rule at 100 TB: this operator's hot-cluster
    * cost is Θ(output) and irreducible while all pairs ARE the product —
    * cap tolerable cluster size upstream (the candidatePairs
    * maxBucket-with-surfaced-drop-count pattern) or, when only cluster
    * MEMBERSHIP is needed, use the hub-star consumers
    * ([[graft.ops.DedupOps.bucketStarEdges]] / nearDupSurvivors), which
    * are linear in cluster size. */
  def embeddingNearDupMultiband(corpus: DataFrame, minCos: Double,
                                bands: Int = 3, planesPerBand: Int = 8,
                                dim: Int = 64,
                                smallCap: Long = smallCorpusCap): DataFrame = {
    if (fitsSmallCorpus(corpus, smallCap)) {
      // Fused: all band buckets as ONE per-row expression array (no
      // repartition, no 24-sum aggregate), candidates via a broadcast
      // equi-join on the exploded (band, bucket) rows. A nested-loop
      // "any band matches" join was built and measured first: |corpus|²
      // condition evaluations made it 10× WORSE than the exploded path —
      // equi-join hashing is the only shape that avoids the quadratic even
      // at toy scale. The keyed table is checkpointed: it is ≤ smallCap
      // rows and feeds four plan branches.
      val keyed = corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .select(col("vec_id"), col("qv"),
          qnorm2Q(col("qv"), dim).as("n2"),
          array((0 until bands).map(b =>
            lshKeyQ(col("qv"), planesPerBand, dim, b * planesPerBand)): _*).as("_bks"))
        .localCheckpoint(eager = false)
      // bb feeds both sides of the candidate self-join; checkpoint the
      // ≤ bands·smallCap-row explode so the Generate runs once (plan lint).
      val bb = keyed.select(col("vec_id"), posexplode(col("_bks")).as(Seq("band", "bucket")))
        .localCheckpoint(eager = false)
      // Candidates stay OCCURRENCE-scale until after the minCos filter:
      // deduplicating 9M+ candidate rows BEFORE scoring (the former
      // `pairs.distinct()`) was the stage's dominant shuffle at the sf1.0
      // decade, while scoring a multi-band duplicate costs one extra
      // native qdot (~34% more dots, measured 12.1M slots vs 9.06M
      // distinct pairs at 20k vectors). Score per collision, filter, then
      // dedup the SURVIVORS — score and cos_milli are deterministic per
      // (id_a, id_b), so the post-filter distinct collapses byte-identical
      // rows and the output contract is unchanged.
      val pairs = bb.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
        .join(broadcast(bb.select(col("band"), col("bucket"), col("vec_id").as("id_b"))),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      pairs
        .join(broadcast(keyed.select(col("vec_id").as("id_a"), col("qv").as("qa"),
          col("n2").as("na2"))), Seq("id_a"))
        .join(broadcast(keyed.select(col("vec_id").as("id_b"), col("qv").as("qb"),
          col("n2").as("nb2"))), Seq("id_b"))
        .withColumn("score", qdotFlat(col("qa"), col("qb"), dim))
        .filter(col("score") > lit(minCos) * sqrt((col("na2") * col("nb2")).cast("double")))
        .withColumn("cos_milli",
          floor(col("score") * 1000 / sqrt((col("na2") * col("nb2")).cast("double"))).cast("long"))
        .select(col("id_a"), col("id_b"), col("score"), col("cos_milli"))
        .distinct()
    } else {
      // Materialize the band/bucket keys once: the self-join below would
      // otherwise re-run the posexplode + bands×planes aggregate per side
      // (self-joins re-evaluate the shared subtree — see DedupOps scaladoc).
      val bb = lshBandBuckets(corpus, bands, planesPerBand).localCheckpoint(eager = false)
      // Occurrence-scale candidates, post-filter dedup — same rationale as
      // the fused path above: the pre-score distinct of corpus²/2^planes
      // candidate rows is the dominant shuffle, the duplicate dots are
      // band-count-bounded, and the per-pair output rows are deterministic
      // so the final distinct is byte-exact.
      val pairs = bb.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
        .join(bb.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val keyed = corpus.select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("n2", qdot(col("qv"), col("qv")))
      pairs
        .join(keyed.select(col("vec_id").as("id_a"), col("qv").as("qa"),
          col("n2").as("na2")), Seq("id_a"))
        .join(keyed.select(col("vec_id").as("id_b"), col("qv").as("qb"),
          col("n2").as("nb2")), Seq("id_b"))
        .withColumn("score", qdot(col("qa"), col("qb")))
        .filter(col("score") > lit(minCos) * sqrt((col("na2") * col("nb2")).cast("double")))
        .withColumn("cos_milli",
          floor(col("score") * 1000 / sqrt((col("na2") * col("nb2")).cast("double"))).cast("long"))
        .select(col("id_a"), col("id_b"), col("score"), col("cos_milli"))
        .distinct()
    }
  }

  /** IVF-style ANN: the corpus is partitioned into inverted lists by
    * nearest centroid (assignment is a map-only literal-expression argmax —
    * no join, no exchange), queries probe their `nprobe` nearest lists,
    * and only those lists are exactly re-ranked. The candidate join is a
    * hash join on the centroid id, so at 100 TB each query touches
    * `nprobe/K` of the corpus instead of all of it; K scales with corpus
    * size (√N is the usual rule). Centroids here are the first
    * `numCentroids` corpus vectors — deterministic, so the ranking is
    * oracle-checkable; [[kmeansCentroidArrays]] plugs trained centroids
    * into the same plan. For centroid counts beyond the literal-expression
    * sweet spot (k × dim expression nodes — fine to k ≈ 64), use
    * [[ivfTopKWith]] with a centroid table instead. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numCentroids: Int = 8, nprobe: Int = 2): DataFrame =
    ivfTopKArrays(corpus, queries, firstK(corpus, numCentroids), k, nprobe)

  /** Driver-held centroids as the (cid, cv) LocalRelation table
    * [[ivfTopKWith]] consumes. */
  private def centDF(spark: org.apache.spark.sql.SparkSession,
                     cent: Seq[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    cent.toDF("cid", "cv")
  }

  /** [[ivfTopKWith]] with driver-held centroids. Size-dispatched
    * (measured, interleaved same-JVM at 32k vectors): a probed-small
    * corpus assigns via literal-expression argmax (no centroid join, no
    * exchange — 2-3 jobs total); a large corpus uses the broadcast
    * crossJoin + `max_by` partial aggregate, because `array_max` over k
    * interpreted struct comparisons per row LOSES 4× to the aggregate
    * shape at scale (21-24 s vs 5-6 s, ABAB). Identical output either way
    * (spec-pinned). */
  def ivfTopKArrays(corpus: DataFrame, queries: DataFrame,
                    cent: Seq[(Long, Array[Long])], k: Int,
                    nprobe: Int = 2, smallCap: Long = smallCorpusCap): DataFrame = {
    if (!fitsSmallCorpus(corpus, smallCap))
      return ivfTopKWith(corpus, queries, centDF(corpus.sparkSession, cent), k, nprobe)
    val assign = corpus.select(col("vec_id"), quantize(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        argmaxIdLit(cent.map { case (id, cv) =>
          (qdotLitQ(col("v"), cv), id) }).as("cid"))
    // Query side: top-nprobe centroids per row, sorted literal score structs
    // (desc score, ties to the lowest cid) — map-only on the tiny query set.
    val probes = queries
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(slice(reverse(array_sort(array(cent.map { case (id, cv) =>
          struct(qdotLitQ(col("qv"), cv).as("s"), lit(-id).as("n"))
        }: _*))), 1, nprobe)).as("_p"))
      .select(col("query_id"), col("qv"), (-col("_p").getField("n")).as("cid"))
    val dim = cent.headOption.map(_._2.length).getOrElse(0)
    val scored = broadcast(probes).join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", qdotFlat(col("qv"), col("v"), dim))
    topKByQueryTagged(scored, k, tag = "cid", tagAs = "cluster")
  }

  /** Lloyd's k-means for IVF centroids, MLlib-style: centroids live on the
    * driver (k × dim values — bounded, never corpus rows), each iteration
    * runs ONE distributed job (map-only literal-argmax assignment fused
    * with the element explode into a partial-aggregated (cid, i) mean),
    * and the k × dim means collect back to the driver. Compared to the
    * previous DataFrame-centroid form this removes per-iteration the
    * broadcast cross join, the argmax aggregate exchange, the centroid
    * left-join and the localCheckpoint — and the corpus is scanned once
    * per iteration at any scale. Deterministic: floor(m + 0.5) means
    * (half-up — identical in any engine, mirrored by the oracle), ties to
    * the lowest cid, empty clusters keep their previous centroid. */
  def kmeansCentroidArrays(corpus: DataFrame, k: Int, iterations: Int = 2,
                           smallCap: Long = smallCorpusCap): IndexedSeq[(Long, Array[Long])] =
    memoModel(corpus, s"kmeans:$k:$iterations:$smallCap") {
      kmeansCentroidArraysUncached(corpus, k, iterations, smallCap)
    }

  private def kmeansCentroidArraysUncached(corpus: DataFrame, k: Int,
                                           iterations: Int,
                                           smallCap: Long): IndexedSeq[(Long, Array[Long])] = {
    var cent = firstK(corpus, k)
    // A probed-small corpus bounds the training explode too, so the per-
    // iteration job skips AQE/codegen (its cold Janino cost dwarfs the
    // 2000-row compute); at scale the codegen path stays.
    val smallTraining = fitsSmallCorpus(corpus, smallCap)
    for (_ <- 0 until iterations) {
      // Three selects: quantize once per row; assign from the quantized
      // column; then explode. The explode plans as
      // Project(Generate(Project)) and Generate is a CollapseProject
      // barrier — a single fused select would hoist cid above the Generate
      // and re-evaluate it per ELEMENT row (the round-4
      // duplicated-projection trap).
      // Assignment shape is size-dispatched like [[ivfTopKArrays]] (same
      // measured 4× inversion): literal argmax when small, broadcast
      // crossJoin + max_by partial aggregate when large — identical math
      // and (score, -cid) tie order either way.
      val sumsDf = (if (smallTraining)
        corpus
          .select(quantize(col("embedding")).as("_v"))
          .select(argmaxIdLit(cent.map { case (id, cv) =>
            (qdotLitQ(col("_v"), cv), id) }).as("_cid"), col("_v"))
      else
        corpus.select(col("vec_id"), quantize(col("embedding")).as("_v"))
          .crossJoin(broadcast(centDF(corpus.sparkSession, cent)))
          .withColumn("_s", qdot(col("_v"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("_s"), -col("cid"))).as("_cid"),
            first(col("_v")).as("_v"))
          .select(col("_cid"), col("_v")))
        .select(col("_cid"), posexplode(col("_v")).as(Seq("_i", "_q")))
        .groupBy(col("_cid"), col("_i"))
        .agg(avg(col("_q")).as("_m"))
      val sums = (if (smallTraining)
        graft.runtime.ExecPolicy.runForced(sumsDf)(_.collect())
      else sumsDf.collect()) // ≤ k × dim rows — centroid-scale, never corpus-scale
      val byCid = sums.groupBy(_.getLong(0)).map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1))
          .map(r => math.floor(r.getDouble(2) + 0.5).toLong).toArray
      }
      cent = cent.map { case (id, old) => (id, byCid.getOrElse(id, old)) }
    }
    cent
  }

  /** [[kmeansCentroidArrays]] as a (cid, cv) DataFrame — the original
    * centroid-table contract for [[ivfTopKWith]] consumers. */
  def kmeansCentroids(corpus: DataFrame, k: Int, iterations: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansCentroidArrays(corpus, k, iterations).toDF("cid", "cv")
  }

  /** [[ivfTopK]] against an explicit centroid table (e.g. from
    * [[kmeansCentroids]]) instead of the first-k seed.
    *
    * Corpus-side assignment is an ARGMAX AGGREGATE, not a window: the
    * broadcast cross join is map-only and `max_by` partial-aggregates, so
    * each mapper emits one row per vector instead of shuffling K scored
    * copies into a sort+window. Ties break to the lowest centroid id via
    * the (score, -cid) ordering struct — matching the oracle's
    * ORDER BY score DESC, cid. Query-side probing keeps a window (top-
    * nprobe, not top-1) and is broadcast into the candidate join. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                  k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = broadcast(centroids)
    val assign = corpus.select(col("vec_id"), quantize(col("embedding")).as("v"))
      .crossJoin(cent)
      .withColumn("_cscore", qdot(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("_cscore"), -col("cid"))).as("cid"),
        first(col("v")).as("v"))
    // Probe window is per-query over ≤K centroid rows — no single-partition
    // hazard (each window partition holds K rows by construction); the
    // candidate top-k below is the corpus-scale side and uses the bounded
    // aggregate.
    val pw = Window.partitionBy(col("query_id")).orderBy(col("_cscore").desc, col("cid"))
    val probes = queries
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .crossJoin(cent)
      .withColumn("_cscore", qdot(col("qv"), col("cv")))
      .withColumn("_crn", row_number().over(pw))
      .filter(col("_crn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    val scored = broadcast(probes).join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", qdot(col("qv"), col("v")))
    topKByQueryTagged(scored, k, tag = "cid", tagAs = "cluster")
  }

  /** Driver-side integer dot of two quantized arrays — centroid-scale
    * routing math only (k × dim values), never corpus rows. */
  private def qdotArr(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** TWO-LEVEL IVF: a coarse quantizer of √C super-cells routes each
    * vector to a super-cell first, then to the nearest of only that
    * super-cell's cells — the deployment shape the single-level cost law
    * demands (see [[knnLabelAudit]]'s scaladoc): single-level assignment
    * is N·C comparisons, and with the IVF rule C = √N that is N^1.5;
    * two-level does N·(S + C/S) = 2·N·√C comparisons, i.e. N^1.25 at the
    * same C. At 100 TB this is the difference between the assignment pass
    * dominating the index build and it being a rounding error.
    *
    * Plan shape: the corpus is scanned ONCE and shuffles ONCE — the
    * super-cell argmax is a broadcast crossJoin (S rows per vector) into a
    * `max_by` partial aggregate, and the cell-level refinement reuses that
    * aggregate's hash partitioning (broadcast join + second `max_by` on
    * the same key plan with NO second exchange — spec-pinned). The
    * cell→super routing table is computed on the DRIVER (C × dim values,
    * centroid-scale). Queries probe `sprobe` super-cells then `nprobe`
    * cells within them (bounded windows: ≤ S then ≤ sprobe·C/S rows per
    * query); candidates re-rank exactly through the bounded
    * [[graft.expressions.TopKPairsTagged]] aggregate.
    *
    * Seeds are deterministic (cells = first C corpus vectors, supers =
    * first √C cells, all ties to the lowest id), so the whole hierarchy is
    * oracle-checkable; [[kmeansCentroidArrays]]-trained cells plug into
    * the same plan exactly as they do for [[ivfTopKWith]]. Recall is the
    * standard hierarchical-IVF trade: a vector whose true nearest cell
    * lives under a different super-cell is routed approximately — raising
    * `sprobe` buys it back on the query side. */
  def ivfTwoLevelAssign(corpus: DataFrame,
                        cells: IndexedSeq[(Long, Array[Long])],
                        carry: Seq[String] = Seq.empty): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val s = math.ceil(math.sqrt(cells.size.toDouble)).toInt
    val supers = cells.take(s)
    val routed = cells.map { case (cid, cv) =>
      val scid = -supers.map { case (sid, sv) => (qdotArr(cv, sv), -sid) }.max._2
      (cid, scid, cv)
    }
    val supDF = broadcast(supers.toDF("scid", "scv"))
    val cellDF = broadcast(routed.map { case (cid, scid, cv) =>
      (cid, scid, cv, qdotArr(cv, cv)) }.toDF("cid", "scid", "cv", "cn2"))
    // `carry` columns ride the aggregation buffers as first() — they are
    // per-vec_id constants (e.g. the label in knnLabelAudit), so carrying
    // them costs no extra shuffle and spares consumers a join-back.
    val carryFirsts = carry.map(c => first(col(c)).as(c))
    val base = corpus.select(
      (col("vec_id") +: quantize(col("embedding")).as("v") +: carry.map(col)): _*)
    val a1 = base
      .crossJoin(supDF)
      .withColumn("_ss", qdot(col("v"), col("scv")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("scid"), struct(col("_ss"), -col("scid"))).as("scid"),
        (first(col("v")).as("v") +: carryFirsts): _*)
    // cdot (winner's centroid dot) and cn2 (winner's norm²) ride the same
    // aggregate so score-consuming callers (semanticDedup's c_milli) need
    // no re-scoring pass; plain cid consumers ignore them.
    a1.join(cellDF, Seq("scid"))
      .withColumn("_cs", qdot(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("cn2")), struct(col("_cs"), -col("cid"))).as("_w"),
        (max(col("_cs")).as("cdot") +: first(col("v")).as("v") +: carryFirsts): _*)
      .select((col("vec_id") +: col("_w.cid").as("cid") +: col("_w.cn2").as("cn2") +:
        col("cdot") +: col("v") +: carry.map(col)): _*)
  }

  def ivfTwoLevelTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      numCells: Int = 16, nprobe: Int = 2,
                      sprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    import spark.implicits._
    val cells = firstK(corpus, numCells)
    val s = math.ceil(math.sqrt(cells.size.toDouble)).toInt
    val supers = cells.take(s)
    val routed = cells.map { case (cid, cv) =>
      val scid = -supers.map { case (sid, sv) => (qdotArr(cv, sv), -sid) }.max._2
      (cid, scid, cv)
    }
    val supDF = broadcast(supers.toDF("scid", "scv"))
    val cellDF = broadcast(routed.toDF("cid", "scid", "cv"))
    val assign = ivfTwoLevelAssign(corpus, cells)
    // Probe windows are per-query over ≤ S then ≤ sprobe·C/S rows — both
    // bounded by construction, no single-partition hazard (the corpus-
    // scale top-k below uses the bounded aggregate).
    val sw = Window.partitionBy(col("query_id")).orderBy(col("_ss").desc, col("scid"))
    val qsup = queries
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .crossJoin(supDF)
      .withColumn("_ss", qdot(col("qv"), col("scv")))
      .withColumn("_srn", row_number().over(sw))
      .filter(col("_srn") <= sprobe)
      .select(col("query_id"), col("qv"), col("scid"))
    val cw = Window.partitionBy(col("query_id")).orderBy(col("_cs").desc, col("cid"))
    val probes = qsup.join(cellDF, Seq("scid"))
      .withColumn("_cs", qdot(col("qv"), col("cv")))
      .withColumn("_crn", row_number().over(cw))
      .filter(col("_crn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    val scored = broadcast(probes).join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", qdot(col("qv"), col("v")))
    topKByQueryTagged(scored, k, tag = "cid", tagAs = "cluster")
  }

  /** Default cell-size cap for [[semanticDedup]]'s skew guard: with the
    * √N cell rule a balanced cell is ~√N wide, so 4096 only ever engages
    * on genuinely degenerate clusters (it bounds the per-cell pair work
    * at |cell|·4096). Override via SPARK_GRAFT_SEMDEDUP_MAX_CELL;
    * Long.MaxValue disables the guard (spec-pinned identical on balanced
    * data). */
  val semDedupMaxCell: Long =
    sys.env.get("SPARK_GRAFT_SEMDEDUP_MAX_CELL").map(_.toLong)
      .getOrElse(4096L)

  private val semDedupObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-cell counts + sub-cell split factor for the skew guard. */
  private def sizesOf(assign: DataFrame, maxCellSize: Long): DataFrame =
    assign.groupBy(col("cid"))
      .agg(count(lit(1)).as("_csz"))
      .withColumn("_nsplit", greatest(lit(1L),
        ceil(col("_csz").cast("double") / maxCellSize).cast("long")))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means cells + within-cell cosine pruning. Each
    * vector is assigned to its nearest cell; pairs INSIDE a cell whose
    * exact cosine clears `minCos` are semantic duplicates, and of each
    * duplicate neighborhood the paper keeps the example LEAST similar to
    * the cell centroid (maximum residual diversity). Keep rule, made
    * engine-portable: a vector is dropped iff some same-cell neighbor
    * above `minCos` ranks BETTER, where rank = (centroid-cosine-milli
    * ASC, vec_id ASC) — a strict total order, so the rule is
    * deterministic and mirrors as one EXISTS anti-join in SQL. (The rule
    * references only static ranks, never the neighbor's own kept status,
    * so there is no iteration and no engine-order sensitivity.)
    *
    * Scale shape: the pairwise stage is per-CELL (Σ|cell|² pairs, never
    * all-pairs), the same bound as [[knnLabelAudit]]; with the C = √N
    * cell rule the expected pair count is N^1.5, and the cell count (and
    * with it the join's key cardinality) GROWS with the corpus, so no
    * fixed-key skew develops — on BALANCED cells. Against adversarial
    * skew (a real embedding space where k-means collapses half the corpus
    * into one degenerate cell, making Σ|cell|² quadratic) the
    * `maxCellSize` guard salts any oversized cell into
    * ceil(|cell|/maxCellSize) hash sub-cells before the pair stage — the
    * LSH `maxBucket` analog, but splitting instead of dropping: cost
    * becomes ≤ |cell|·maxCellSize pairs (linear in the cell), at the
    * price of missing cross-sub-cell duplicate pairs INSIDE the
    * degenerate cell (documented recall trade, deterministic via
    * seedless xxhash64 so results stay engine-stable). Cells at or under
    * the cap — every cell when clustering behaves — are bit-identical to
    * the unguarded output (nsplit = 1 ⇒ salt 0 everywhere), which is how
    * the oracle mirrors this without modeling the salt. Guard engagement
    * is surfaced as observed metrics (`graft.semdedup.cells` →
    * max_cell/max_split, no extra job; they fire on whichever execution
    * evaluates the salted branch) — CONDITIONALLY: on a corpus the cap
    * probe proves under-cap the guard machinery (and with it the metric)
    * is skipped entirely, so a missing metric means "provably no skew
    * possible", not broken plumbing (r15 review note). Assignment is the one corpus-scale
    * aggregate (broadcast centroids + `max_by`, map-side partial); the
    * assigned table is localCheckpoint'd because it feeds four plan
    * branches (the cell-size rollup, both self-join sides and the final
    * kept projection — the round-4 duplicated-subtree rule; the
    * branches' salt join is a MAP-ONLY broadcast join over the
    * checkpointed leaf, the llm_source_dup recompute-is-a-local-scan
    * shape, cheaper than materializing a second corpus-scale copy).
    * Centroids come from [[kmeansCentroidArrays]] (driver-held, one job
    * per Lloyd round); `iterations = 0` uses the deterministic first-C
    * seeds, which keeps the oracle mirror seed-exact. */
  def semanticDedup(corpus: DataFrame, minCos: Double,
                    numCells: Int = 16, iterations: Int = 0,
                    maxCellSize: Long = semDedupMaxCell,
                    twoLevelCells: Int = twoLevelCellsDefault,
                    forceGuard: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cent = kmeansCentroidArrays(corpus, numCells, iterations)
    // Assignment is size-dispatched exactly like knnLabelAudit: the flat
    // broadcast argmax (exact) below twoLevelCells, the two-level coarse
    // quantizer (N·2√C dots, standard hierarchical-IVF approximation —
    // ivfTwoLevelAssign carries the winner's cdot/cn2 so c_milli needs no
    // re-score) at or above it. The registry query pins numCells = 16 <
    // 32, so the oracle path stays the exact flat argmax at every sf;
    // ScaleSmoke's √N-cell row exercises the hierarchy.
    val assigned0 =
      if (cent.size >= twoLevelCells)
        ivfTwoLevelAssign(corpus, cent)
          .select(col("vec_id"), col("cid"), col("v"), col("cdot"), col("cn2"))
      else {
        val centWithNorm = broadcast(
          cent.map { case (cid, cv) => (cid, cv, qdotArr(cv, cv)) }
            .toDF("cid", "cv", "cn2"))
        corpus.select(col("vec_id"), quantize(col("embedding")).as("v"))
          .crossJoin(centWithNorm)
          .withColumn("_cs", qdot(col("v"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cid"), col("cn2")), struct(col("_cs"), -col("cid"))).as("_b"),
            max(col("_cs")).as("cdot"),
            first(col("v")).as("v"))
          .select(col("vec_id"), col("_b.cid").as("cid"), col("v"), col("cdot"),
            col("_b.cn2").as("cn2"))
      }
    val assign = assigned0
      .withColumn("n2", qdot(col("v"), col("v")))
      .withColumn("c_milli",
        floor(col("cdot") * 1000 / sqrt((col("n2") * col("cn2")).cast("double")))
          .cast("long"))
      .select(col("vec_id"), col("cid"), col("v"), col("n2"), col("c_milli"))
      .localCheckpoint(eager = false)
    // Cell-skew guard, cap-probe DISPATCHED (r15): a corpus that provably
    // fits `maxCellSize` rows cannot contain an over-cap cell
    // (|cell| ≤ N ≤ cap ⇒ nsplit ≡ 1 ⇒ salt ≡ 0), so the sizes rollup,
    // its checkpoint, and both broadcast salt joins are pure per-query
    // floor there — skipped, output bit-exact (SemanticDedupSpec pins
    // fast ≡ forceGuard). The probe reads ≤ cap+1 rows (memoized); the
    // guarded path is unchanged: per-cell counts (≤ numCells rows after
    // a map-side partial), broadcast back; oversized cells get
    // ceil(size/cap) deterministic hash sub-cells.
    val guardNeeded = forceGuard ||
      !fitsSmallCorpus(corpus, math.min(smallCorpusCap, maxCellSize))
    val (a, b) = if (guardNeeded) {
      // The tiny rollup is lazily checkpointed so both join sides read
      // one leaf instead of re-aggregating.
      val sizes = sizesOf(assign, maxCellSize).localCheckpoint(eager = false)
      def salted(df: DataFrame): DataFrame =
        df.join(broadcast(sizes), Seq("cid"))
          .withColumn("_salt", pmod(xxhash64(col("vec_id")), col("_nsplit")))
          .drop("_nsplit")
      // metric name suffixed per invocation: two semanticDedup outputs
      // composed in one query (e.g. an exceptAll comparison) would
      // otherwise trip DUPLICATED_METRICS_NAME; listeners match the prefix
      (salted(assign)
        .observe(s"graft.semdedup.cells.${semDedupObsId.incrementAndGet()}",
          max(col("_csz")).as("max_cell"),
          max(greatest(lit(1L),
            ceil(col("_csz").cast("double") / maxCellSize).cast("long")))
            .as("max_split"))
        .drop("_csz")
        .select(col("cid"), col("_salt"), col("vec_id"), col("v"),
          col("n2"), col("c_milli")),
      salted(assign).drop("_csz")
        .select(col("cid"), col("_salt"), col("vec_id").as("id_b"),
          col("v").as("vb"), col("n2").as("nb2"),
          col("c_milli").as("cb_milli")))
    } else (
      assign.select(col("cid"), lit(0L).as("_salt"), col("vec_id"), col("v"),
        col("n2"), col("c_milli")),
      assign.select(col("cid"), lit(0L).as("_salt"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("n2").as("nb2"),
        col("c_milli").as("cb_milli")))
    // One row per dropped vector: EXISTS-style via aggregate (the pair
    // join can emit several better neighbors; max_by is cheaper and
    // map-side vs a DISTINCT shuffle of the pair set).
    val dropped = a.join(b, Seq("cid", "_salt"))
      .filter(col("vec_id") =!= col("id_b"))
      .filter(qdot(col("v"), col("vb")) >
        lit(minCos) * sqrt((col("n2") * col("nb2")).cast("double")))
      .filter(col("cb_milli") < col("c_milli") ||
        (col("cb_milli") === col("c_milli") && col("id_b") < col("vec_id")))
      .groupBy(col("vec_id")).agg(first(lit(true)).as("_dropped"))
    assign.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cluster"), col("c_milli"),
        coalesce(col("_dropped"), lit(false)).as("dropped"))
  }

  /** Product-quantization ANN: each vector is encoded as `m` sub-space
    * codes (nearest codebook entry by quantized L2, ties to the lowest
    * code), and a query scores a corpus vector as the SUM of per-subspace
    * dot-product LOOKUPS (asymmetric distance computation) — never
    * touching the original corpus floats.
    *
    * The scale story is memory, not just shuffle: the corpus representation
    * is m small ints per vector instead of `dim` floats (here 4 codes vs 64
    * floats — a 16-64× shrink), so a billion-vector index fits where raw
    * vectors cannot, and the scoring join moves (vec_id, s, code) rows
    * against a BROADCAST query lookup table of |Q|·m·ksub entries. Codebook
    * here = the first `ksub` corpus vectors' sub-vectors (deterministic →
    * oracle-checkable; production plugs per-subspace k-means into the same
    * plan, exactly as [[ivfTopKWith]] does for coarse centroids).
    *
    * Everything is quantized int64 arithmetic: encode = argmin Σ(q-c)²,
    * score = Σ LUT dots — bit-identical in any engine. */
  /** Per-code sub-vectors: codebook(ci) = (code id, per-subspace arrays).
    * Sorted by code id, so index order == id order and argmin ties to the
    * lowest index match the oracle's ties to the lowest code. */
  type PqCodebook = IndexedSeq[(Long, IndexedSeq[Array[Long]])]

  /** Seeded codebook: the first `ksub` corpus vectors' sub-vectors, held on
    * the driver (ksub × dim values — bounded). */
  def pqSeedArrays(corpus: DataFrame, m: Int, ksub: Int, dim: Int): PqCodebook = {
    val dsub = dim / m
    firstK(corpus, ksub).map { case (id, v) =>
      (id, (0 until m).map(s => v.slice(s * dsub, (s + 1) * dsub)).toIndexedSeq)
    }
  }

  /** Nearest-codebook-entry INDEX for subspace `s` of a quantized embedding
    * column: literal-expression argmin by quantized L2, ties to the lowest
    * index (== lowest code id — [[PqCodebook]] is id-sorted). */
  private def pqEncodeIdx(qv: Column, cb: PqCodebook, s: Int, dsub: Int): Column =
    array_min(array(cb.indices.map { ci =>
      struct(qdist2LitQ(qv, s * dsub, cb(ci)._2(s)).as("d"), lit(ci.toLong).as("c"))
    }: _*)).getField("c")

  /** The codebook as the (code, s, j, cq) row table [[pqTopKWith]] joins —
    * a LocalRelation, so consumers pay no recompute and no checkpoint.
    * `code` is the codebook INDEX (the id-sorted position, so tie order by
    * code == tie order by seed id — identical rankings); types match
    * [[subElements]]'s layout (s: long from `div`, j: int). */
  private def pqCodebookDF(spark: org.apache.spark.sql.SparkSession,
                           cb: PqCodebook): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case ((_, subs), ci) =>
      subs.zipWithIndex.flatMap { case (arr, s) =>
        arr.zipWithIndex.map { case (cq, j) => (ci.toLong, s.toLong, j, cq) }
      }
    }.toDF("code", "s", "j", "cq")
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, ksub: Int = 8, dim: Int = 64,
             smallCap: Long = smallCorpusCap): DataFrame = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val cb = pqSeedArrays(corpus, m, ksub, dim)
    if (fitsSmallCorpus(corpus, smallCap)) pqTopKExpr(corpus, queries, cb, k, m, dim)
    else pqTopKWith(corpus, queries, pqCodebookDF(corpus.sparkSession, cb), k, dim / m)
  }

  /** Fused small-corpus PQ: encode and LUT are map-side literal
    * expressions, scoring is one broadcast nested-loop join of the coded
    * corpus against the tiny query LUTs, and the only exchange is the final
    * top-k window over |Q|·|corpus| scored rows. Output is bit-identical to
    * [[pqTopKWith]] (cross-checked by spec): the join-path's per-(s,code)
    * partial dots sum to exactly these lookups. */
  private def pqTopKExpr(corpus: DataFrame, queries: DataFrame, cb: PqCodebook,
                         k: Int, m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    val ksubN = cb.size
    val coded = corpus.select(col("vec_id"), quantize(col("embedding")).as("_qv"))
      .select(col("vec_id"),
        array((0 until m).map(s => pqEncodeIdx(col("_qv"), cb, s, dsub)): _*).as("_codes"))
    // LUT per query: flat array indexed (s, codeIdx) of the partial dot of
    // the query's subspace s against codebook entry codeIdx.
    val lut = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("_qv"))
      .select(col("query_id"),
        array((0 until m).flatMap(s => cb.indices.map(ci =>
          qdotLitSub(col("_qv"), s * dsub, cb(ci)._2(s)))): _*).as("_lut"))
    val score = (0 until m).map(s =>
      element_at(col("_lut"),
        (lit(s * ksubN) + element_at(col("_codes"), s + 1) + 1).cast("int")))
      .reduce(_ + _)
    val scored = coded.join(broadcast(lut), col("vec_id") =!= col("query_id"))
      .withColumn("score", score)
    topKByQuery(scored, k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("score"))
  }

  /** Quantized SUB-vector elements as rows: (id, s = subspace, j = index
    * within subspace, q) — the shared layout of PQ encode, LUT build, and
    * codebook training. */
  private def subElements(df: DataFrame, idName: String, dsub: Int): DataFrame = df
    .repartition(col("vec_id"))
    .select(col("vec_id").as(idName), posexplode(col("embedding")).as(Seq("_i", "_x")))
    .select(col(idName), expr(s"_i div $dsub").as("s"), expr(s"_i % $dsub").as("j"),
      round(col("_x").cast("double") * 1000).cast("long").as("q"))

  /** [[pqTopK]] against an EXPLICIT codebook — (code, s, j, cq) rows, e.g.
    * from [[pqCodebooks]]. The codebook is broadcast on both the encode and
    * LUT sides; everything else is identical to the seeded path. */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
                 k: Int, dsub: Int): DataFrame = {
    val cb = broadcast(codebook)
    val dists = subElements(corpus, "vec_id", dsub)
      .join(cb, Seq("s", "j"))
      .groupBy(col("vec_id"), col("s"), col("code"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2"))
    // encode: nearest codebook entry per (vector, subspace) — map-side
    // argmin aggregate, ties to the lowest code (the max_by/min_by pattern)
    val codes = dists.groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    val lut = subElements(queries, "query_id", dsub)
      .join(cb, Seq("s", "j"))
      .groupBy(col("query_id"), col("s"), col("code"))
      .agg(sum(col("q") * col("cq")).as("pd"))
    val scored = codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("score"))
      .filter(col("vec_id") =!= col("query_id"))
    topKByQuery(scored, k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("score"))
  }

  /** TRAINED PQ codebooks: per-subspace Lloyd refinement of the first-ksub
    * seed, [[kmeansCentroidArrays]] mirrored into each subspace — but by
    * quantized L2 (PQ encodes by distance, not dot product). Driver-held
    * like the k-means centroids (m × ksub × dsub = dim × ksub values —
    * bounded): each iteration is ONE distributed job — per-row
    * literal-argmin code indices fused with the element explode into a
    * partial-aggregated (s, code, j) mean — with the means collected back.
    * Deterministic (floor(avg+0.5) means, ties to the lowest code, empty
    * codes keep their previous entry), so a trained ranking is
    * oracle-checkable. */
  def pqCodebookArrays(corpus: DataFrame, m: Int = 4, ksub: Int = 8,
                       dim: Int = 64, iterations: Int = 1,
                       smallCap: Long = smallCorpusCap): PqCodebook =
    memoModel(corpus, s"pq:$m:$ksub:$dim:$iterations:$smallCap") {
      pqCodebookArraysUncached(corpus, m, ksub, dim, iterations, smallCap)
    }

  private def pqCodebookArraysUncached(corpus: DataFrame, m: Int, ksub: Int,
                                       dim: Int, iterations: Int,
                                       smallCap: Long): PqCodebook = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val dsub = dim / m
    var cb = pqSeedArrays(corpus, m, ksub, dim)
    val smallTraining = fitsSmallCorpus(corpus, smallCap)
    for (_ <- 0 until iterations) {
      // Size-dispatched like the k-means training job: quantize-once +
      // expression encode + Generate-barrier explode when small; the
      // element-rows codebook join + argmin aggregate (the [[pqTopKWith]]
      // encode shape) when large — per-row array_min over interpreted
      // struct comparisons loses ~4× to the aggregate at scale.
      val sumsDf = if (smallTraining)
        corpus
          .select(quantize(col("embedding")).as("_v"))
          .select(array((0 until m).map(s =>
            pqEncodeIdx(col("_v"), cb, s, dsub)): _*).as("_c"), col("_v"))
          .select(col("_c"), posexplode(col("_v")).as(Seq("_i", "_q")))
          .select(expr(s"_i div $dsub").as("_s"),
            element_at(col("_c"), (expr(s"_i div $dsub") + 1).cast("int")).as("_ci"),
            expr(s"_i % $dsub").as("_j"), col("_q"))
          .groupBy(col("_s"), col("_ci"), col("_j"))
          .agg(avg(col("_q")).as("_m"))
      else {
        val el = subElements(corpus, "vec_id", dsub)
        val cbDF = broadcast(pqCodebookDF(corpus.sparkSession, cb))
        val assign = el.join(cbDF, Seq("s", "j"))
          .groupBy(col("vec_id"), col("s"), col("code"))
          .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2"))
          .groupBy(col("vec_id"), col("s"))
          .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("_ci"))
        el.join(assign, Seq("vec_id", "s"))
          .groupBy(col("s"), col("_ci"), col("j"))
          .agg(avg(col("q")).as("_m"))
      }
      val sums = (if (smallTraining)
        graft.runtime.ExecPolicy.runForced(sumsDf)(_.collect())
      else sumsDf.collect()) // ≤ dim × ksub rows — codebook-scale, never corpus-scale
      val byKey = sums.map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2)) -> math.floor(r.getDouble(3) + 0.5).toLong).toMap
      cb = cb.zipWithIndex.map { case ((code, subs), ci) =>
        (code, subs.zipWithIndex.map { case (old, s) =>
          if (byKey.contains((s.toLong, ci.toLong, 0)))
            Array.tabulate(dsub)(j => byKey((s.toLong, ci.toLong, j)))
          else old
        })
      }
    }
    cb
  }

  /** [[pqCodebookArrays]] as the (code, s, j, cq) row table — the original
    * codebook contract for [[pqTopKWith]] consumers. */
  def pqCodebooks(corpus: DataFrame, m: Int = 4, ksub: Int = 8, dim: Int = 64,
                  iterations: Int = 1): DataFrame =
    pqCodebookDF(corpus.sparkSession, pqCodebookArrays(corpus, m, ksub, dim, iterations))

  /** Production PQ path: train per-subspace codebooks, then encode + score
    * with them. Same dispatch as [[pqTopK]]; only the codebook differs. */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                    m: Int = 4, ksub: Int = 8, dim: Int = 64,
                    iterations: Int = 1, smallCap: Long = smallCorpusCap): DataFrame = {
    val cb = pqCodebookArrays(corpus, m, ksub, dim, iterations)
    if (fitsSmallCorpus(corpus, smallCap)) pqTopKExpr(corpus, queries, cb, k, m, dim)
    else pqTopKWith(corpus, queries, pqCodebookDF(corpus.sparkSession, cb), k, dim / m)
  }

  /** Cluster-bounded k-NN label-purity audit — the label-error screen run
    * over curated/classified training sets (confident-learning style): a
    * vector whose nearest neighbours mostly carry a DIFFERENT label is a
    * mislabel candidate. Neighbourhoods are evaluated WITHIN each vector's
    * IVF cell (nearest of the first-`numCentroids` seed centroids, same
    * deterministic assignment as [[ivfTopKArrays]]), so the self-join is
    * per-cell — Σ|cell|² pairs, never all-pairs. `numCentroids` = √N is
    * the single-level OPTIMUM, not just a convention: total cost is
    * N·C assignment + N²/C cell pairs, minimized at C = √N → N^1.5
    * overall (ScaleSmoke measures 7.1× time on 4× vectors; the law
    * predicts 8×). Past that, the deployment rule is a two-level coarse
    * quantizer (√C super-cells, then C cells) dropping assignment to
    * N·2√C — and it is WIRED, not just documented: the large path routes
    * through [[ivfTwoLevelAssign]] (label carried on the aggregation
    * buffers, no join-back) whenever `numCentroids ≥ twoLevelCells`.
    * Exponent honesty: under C = √N this drops the ASSIGNMENT component
    * N^1.5 → N^1.25 while the pair stage stays N²/C = N^1.5 (smaller
    * total constant, same bound); the real prize is that cheap assignment
    * makes C = N^(2/3) affordable — pairs N²/C = N^(4/3), assignment
    * 2N·C^0.5 = N^(4/3) — when the audit's neighbourhood semantics
    * tolerate the smaller cells that implies. Measured (ScaleSmoke
    * same-run A/B, r12): 8k vecs/89 cells two-level 12.9 s vs flat
    * 10.6 s (below the small-path cap, so production never sees this
    * regime); 32k/178 two-level 25.5 s vs flat 62.8 s — 2.5× and the
    * gap widens with m (growth per 4× vectors: 2.0× vs 5.9×). Cell
    * CONTENTS may
    * differ from the flat argmax for vectors whose nearest cell lives
    * under a different super-cell — the standard hierarchical-IVF
    * approximation, acceptable for a purity SCREEN (the oracle replays
    * the identical routing, so the gate still checks it exactly; on
    * separated fixtures the paths agree bit-for-bit, spec-pinned).
    * Dispatch summary: probed-small → fused literal argmax (exact);
    * large ∧ C ≥ twoLevelCells → two-level (N·2√C); large ∧ C <
    * twoLevelCells → flat broadcast aggregate (exact, N·C). The
    * per-vector top-k uses the bounded [[graft.expressions.TopKPairsTagged]]
    * aggregate with the NEIGHBOUR's label as the tag, so no join-back
    * against the corpus; purity is then one map-side-combined aggregate.
    *
    * Output: (vec_id, label, n_nbrs, n_same, purity_ppm, suspect) — one row
    * per vector whose cell holds at least one other vector; `purity_ppm` is
    * integer millionths of neighbours sharing the vector's label, `suspect`
    * marks rows under `minPurityPpm`. */
  def knnLabelAudit(corpus: DataFrame, k: Int, numCentroids: Int = 8,
                    minPurityPpm: Long = 500000L,
                    smallCap: Long = smallCorpusCap,
                    twoLevelCells: Int = twoLevelCellsDefault): DataFrame = {
    val cent = firstK(corpus, numCentroids)
    val q = corpus.select(col("vec_id"), col("label").cast("long").as("label"),
      quantize(col("embedding")).as("v"))
    // Size-dispatched assignment, the ivfTopKArrays/kmeans shape: literal
    // argmax when the corpus is probed-small; at scale the two-level
    // hierarchy when the cell count justifies the extra exchange
    // (crossover model: flat pays N·C dots in one aggregation, two-level
    // N·2√C dots across two — below ~32 cells the saved dots don't cover
    // the second aggregation's fixed cost), else the flat broadcast
    // crossJoin + max_by partial aggregate (measured 4× inversion at 32k).
    val assigned =
      if (fitsSmallCorpus(corpus, smallCap))
        q.select(col("vec_id"), col("label"), col("v"),
          argmaxIdLit(cent.map { case (id, cv) =>
            (qdotLitQ(col("v"), cv), id) }).as("cid"))
      else if (cent.size >= twoLevelCells)
        ivfTwoLevelAssign(
          corpus.withColumn("label", col("label").cast("long")), cent,
          carry = Seq("label"))
      else
        q.crossJoin(broadcast(centDF(corpus.sparkSession, cent)))
          .withColumn("_s", qdot(col("v"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("_s"), -col("cid"))).as("cid"),
            first(col("label")).as("label"), first(col("v")).as("v"))
    // assigned feeds both sides of the cell self-join — materialize it or
    // the assignment recomputes per side (plan lint). Measured r12: the
    // checkpoint is load-bearing EVEN on the probed-small path, where the
    // recompute looks like "a map-only rescan" — the literal argmax is a
    // C×dim-node expression tree, and duplicating it into both join sides
    // quadrupled the query (2.3-5.4 → 8.4-13.6 s warm at sf0.1, same-run
    // repeats): the round-7 rule-b flattened-literal hazard, not the
    // round-10 rule-f cheap-rescan case. Do not "optimize" this away.
    val keyed = assigned.localCheckpoint(eager = false)
    val l = keyed.select(col("cid"), col("vec_id").as("query_id"),
      col("label").as("q_label"), col("v").as("qv"))
    val r = keyed.select(col("cid"), col("vec_id"),
      col("label").as("n_label"), col("v").as("cv"))
    val scored = l.join(r, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", qdot(col("qv"), col("cv")))
    topKByQueryTagged(scored, k, tag = "n_label", tagAs = "n_label",
        carry = Seq("q_label"))
      .groupBy(col("query_id").as("vec_id"), col("q_label").as("label"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("purity_ppm", expr("n_same * 1000000 div n_nbrs"))
      .withColumn("suspect", col("purity_ppm") < minPurityPpm)
  }

  /** Hard-negative mining for contrastive/embedding training: per query,
    * the top-k highest-scoring corpus vectors whose label DIFFERS from the
    * query's — the "closest wrong answers" a trainer pairs against each
    * anchor. Same plan skeleton as [[bruteForceTopK]] (queries broadcast,
    * corpus streamed once, bounded top-k aggregate); the negative's label
    * rides the aggregation buffer as the [[graft.expressions.TopKPairsTagged]]
    * tag. Output: (query_id, rank, vec_id, score, neg_label). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("label").cast("long").as("q_label"), quantize(col("embedding")).as("qv")))
    val c = corpus.select(col("vec_id"), col("label").cast("long").as("n_label"),
      quantize(col("embedding")).as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("vec_id") && col("q_label") =!= col("n_label"))
      .withColumn("score", qdot(col("qv"), col("cv")))
    topKByQueryTagged(scored, k, tag = "n_label", tagAs = "neg_label")
  }

  /** ANN top-k via hyperplane LSH: candidates share the query's bucket.
    * One hash shuffle on the bucket key; per-bucket exact re-rank. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 4, dim: Int = 64): DataFrame = {
    val key = (v: Column) => lshKey(v, planes, dim)
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"),
      quantize(col("embedding")).as("qv"),
      key(col("embedding")).as("bucket")))
    val c = corpus.select(
      col("vec_id"), quantize(col("embedding")).as("cv"),
      key(col("embedding")).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", qdot(col("qv"), col("cv")))
    // bucket is the query's own LSH key (the equi-join key), functionally
    // determined by query_id — grouping on it adds no groups.
    topKByQuery(scored, k, carry = Seq("bucket"))
  }

  /** Embedding-space diversity/coverage per group, WITHOUT pairs: the
    * mean pairwise squared distance comes from the O(N) identity
    * `Σ_{i<j} ||xi−xj||² = N·Σ||x||² − ||Σx||²`, so a metric that reads
    * as O(N²) is one bounded aggregation.
    *
    * Shape: quantize once per row, posexplode to (group, dim, q) — the
    * [[lshBucketOf]] codegen idiom — then ONE map-side-combined groupBy on
    * (group, dim) (bounded keys: groups × dim, never the corpus)
    * accumulating Σq, Σq², and the member count; the per-group roll-up of
    * `dim` rows closes the identity. Zero joins, zero checkpoints, no
    * pairwise anything.
    *
    * Exact int64 up to ~3.8e5 vectors per group (n²·dim·q²max ≤ 2⁶³);
    * beyond that drop quantization to 8 bits or lift the two products
    * into decimal — the aggregation shape is unchanged.
    *
    * Output: (group_id, n, mean_sq_norm, mean_pair_d2). */
  def diversityStats(emb: DataFrame, group: Column, vec: Column): DataFrame =
    emb.select(group.as("group_id"), posexplode(quantize(vec)).as(Seq("_i", "_q")))
      .groupBy(col("group_id"), col("_i"))
      .agg(sum(col("_q")).as("_si"),
        sum(col("_q") * col("_q")).as("_sqi"),
        count(lit(1)).as("_cnt"))
      .groupBy(col("group_id"))
      .agg(max(col("_cnt")).as("n"), // every dim row counts the same members
        sum(col("_sqi")).as("_ssq"),
        sum(col("_si") * col("_si")).as("_ssum"))
      .select(col("group_id"), col("n"),
        expr("_ssq div n").as("mean_sq_norm"),
        expr("(n * _ssq - _ssum) div greatest(n * (n - 1) div 2, 1)")
          .as("mean_pair_d2"))

  /** Embedding-store integrity audit: the data-quality gate an embedding
    * table needs before any ANN/dedup pass trusts it. Per label:
    * vector count, dimension violations (`size(embedding) != dim`),
    * zero vectors (quantized norm² = 0 — cosine-undefined, they poison
    * normalized scores), quantized-norm² range, and vectors with no
    * paired document row (orphaned embeddings from a partial re-embed).
    *
    * Scale shape: one map-only feature projection (size + one quantized
    * norm² fold per row), one equi-join to the doc-id projection (shuffle
    * hash join at corpus scale — both sides are corpus-wide, nothing to
    * broadcast), one label-bounded aggregation. All arithmetic is int64
    * on milli-quantized values, so the DuckDB oracle replays it exactly. */
  def integrityAudit(emb: DataFrame, docs: DataFrame,
                     vecIdCol: String, docIdCol: String, vecCol: String,
                     labelCol: String, dim: Int): DataFrame = {
    val docIds = docs.select(col(docIdCol).as("_doc_id"))
    emb.select(col(vecIdCol).as("_vec_id"),
        col(labelCol).cast("long").as("label"),
        size(col(vecCol)).cast("long").as("_dims"),
        aggregate(quantize(col(vecCol)), lit(0L),
          (acc, x) => acc + x * x).as("_norm2"))
      .join(docIds, col("_vec_id") === col("_doc_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("_dims") =!= dim.toLong, 1L).otherwise(0L)).as("n_dim_bad"),
        sum(when(col("_norm2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("_norm2")).as("min_norm2"),
        max(col("_norm2")).as("max_norm2"),
        sum(when(col("_doc_id").isNull, 1L).otherwise(0L)).as("n_unpaired"))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    * diverse top-k — pick the candidate maximizing
    * `λ·rel(d, q) − (1−λ)·max_{s∈Sel} sim(d, s)`, k rounds.
    *
    * The k-round trainer shape ([[kmeansCentroids]] / BPE doctrine): the
    * corpus stays DISTRIBUTED; the driver holds only the ≤ k selected
    * vectors, each round is ONE map-only scoring pass (one literal dot
    * per selected vector — the k-means argmax shape, never a flattened
    * k×dim expression chain) closed by a single `max_by` aggregate, so
    * the job count is k at ANY corpus size. All scores are quantized
    * int64 (λ in milli units) — bit-portable, so the DuckDB oracle can
    * replay every round as chained MATERIALIZED CTEs and must land on
    * the identical selection order.
    *
    * Ties break to the lowest id (max_by on (score, −id)). Output:
    * (mmr_rank, vec_id, rel_pts, div_pts, score_pts). */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
                probeId: Long, k: Int = 8, lambdaMilli: Long = 700L,
                smallCap: Long = smallCorpusCap): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val selected =
      if (fitsSmallCorpus(corpus, smallCap)) {
        // Fused: ONE cap-bounded collect of the quantized corpus, greedy
        // loop driver-side — identical arithmetic/tie-break to the
        // distributed rounds (AnnSmallPathSpec pins both equality and the
        // strategy flip), without k job-submission floors.
        val all = corpus
          .select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("_q"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        val qArr = all.find(_._1 == probeId).getOrElse(throw
          new IllegalArgumentException(
            s"mmrSelect: probe id $probeId not in corpus"))._2
        val cand = all.filter(_._1 != probeId)
        var sel = Vector.empty[(Long, Array[Long], Long, Long, Long)]
        // fewer than k candidates → return the partial selection (the
        // greedy loop must terminate, not maxBy an empty iterator)
        while (sel.size < k && sel.size < cand.length) {
          val chosen = cand.iterator
            .filterNot(c => sel.exists(_._1 == c._1))
            .map { case (id, v) =>
              val rel = qdotArr(v, qArr)
              val dv = if (sel.isEmpty) 0L
                       else sel.map(s => qdotArr(v, s._2)).max
              (id, v, rel, dv, lambdaMilli * rel - (1000L - lambdaMilli) * dv)
            }
            .maxBy { case (id, _, _, _, sc) => (sc, -id) }
          sel :+= chosen
        }
        sel
      } else {
        val qRows = corpus.filter(col(idCol) === probeId)
          .select(quantize(col(vecCol))).take(1)
        require(qRows.nonEmpty, s"mmrSelect: probe id $probeId not in corpus")
        val qArr = qRows(0).getSeq[Long](0).toArray
        val cand = corpus.filter(col(idCol) =!= probeId)
          .select(col(idCol).as("vec_id"), quantize(col(vecCol)).as("_q"))
        var sel = Vector.empty[(Long, Array[Long], Long, Long, Long)]
        var exhausted = false
        while (sel.size < k && !exhausted) {
          val rel = qdotLitQ(col("_q"), qArr)
          val divCol = sel.map(s => qdotLitQ(col("_q"), s._2)) match {
            case Seq() => lit(0L)
            case Seq(one) => one
            case many => greatest(many: _*)
          }
          val score = lit(lambdaMilli) * rel - lit(1000L - lambdaMilli) * divCol
          val top = cand
            .filter(!col("vec_id").isin(sel.map(s => Long.box(s._1)): _*))
            .select(col("vec_id"), col("_q"), rel.as("_rel"),
              divCol.as("_div"), score.as("_score"))
            .agg(max_by(
              struct(col("vec_id"), col("_q"), col("_rel"), col("_div"), col("_score")),
              struct(col("_score"), (-col("vec_id")).as("_n"))).as("m"))
            .head().getStruct(0)
          // max_by over zero remaining candidates aggregates to null →
          // return the partial selection instead of NPE-ing
          if (top == null) exhausted = true
          else sel :+= ((top.getLong(0), top.getSeq[Long](1).toArray,
            top.getLong(2), top.getLong(3), top.getLong(4)))
        }
        sel
      }
    selected.zipWithIndex.map { case ((id, _, rel, dv, sc), i) =>
      (i + 1, id, rel, dv, sc) }
      .toDF("mmr_rank", "vec_id", "rel_pts", "div_pts", "score_pts")
  }
}
