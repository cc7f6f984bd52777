package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based data-curation classifiers for a training-data pipeline:
  *
  *  1. a token-weight document classifier (the fastText/NB-style quality or
  *     language gate every pretraining corpus runs before mixing), and
  *  2. a nearest-class-centroid embedding classifier (prototype
  *     classification — the cheap label audit for embedding spaces).
  *
  * Reference semantics anchor: the reference engine's quality gates are
  * exact-value filters over scored rows (e.g. the threshold/lockout math of
  * `Source/Services/AuthenticationService.cs` and the per-object rollups of
  * `Source/Services/StatisticsService.cs`); these operators generalize that
  * score-then-gate discipline to corpus curation.
  *
  * Integer-exact scoring, by design. All weights are parts-per-million
  * integer conditional probabilities (`(c+1)*1e6 div (total+V)` with add-one
  * smoothing) and document scores are integer sums of those points, so the
  * classifier is bit-identical in any engine — the same portability rule as
  * [[TextOps.lmScore]]. A log-likelihood formulation would force float `ln`
  * onto the oracle path (cross-engine ulp drift); the points-sum scorer
  * keeps the per-token monotonicity that matters for a curation gate while
  * staying hash-comparable. Documented trade-off: points-sums weight
  * high-frequency tokens more than log-sums would.
  *
  * Scale shape (100 TB):
  *  - fit = ONE pass over the content-addressed train slice; the count
  *    aggregation keys are (token, class) — Zipf-bounded vocabulary × a
  *    handful of classes, so partial aggregation collapses the explode
  *    map-side (round-9 rule b).
  *  - the model is vocabulary-bounded and pivoted to ONE row per token with
  *    a per-class points array → broadcastable at any corpus size.
  *  - scoring = occurrence explode → broadcast hash join → per-document
  *    k-column partial aggregation. One document-keyed shuffle total; the
  *    class dimension rides as k sum columns, never as k× row blow-up.
  *  - the only collects are the class list and per-class totals (k rows —
  *    class-scale, never corpus-scale).
  */
object Classify {

  /** Points scale: weights are ppm of smoothed conditional probability. */
  val PtsScale = 1000000L

  /** Fitted token classifier. `classes` is sorted ascending; `floors(i)` is
    * the out-of-vocabulary smoothing points for `classes(i)`; `weightsLong`
    * is the vocabulary-bounded (cls, token, pts) table — the model's entire
    * data state, which makes it trivially persistable (see
    * graft.streaming.StreamingClassify for the versioned serve path). */
  final case class TokenClassifier(
      classes: Seq[String],
      floors: Seq[Long],
      weightsLong: DataFrame) {

    /** Broadcastable wide model: one row per token with nullable per-class
      * points columns `_p0.._p{k-1}` (null = unseen in that class → the
      * scorer coalesces to the floor). One vocabulary-bounded pivot. */
    def wide: DataFrame = {
      val cols = classes.zipWithIndex.map { case (c, i) =>
        max(when(col("cls") === c, col("pts"))).as(s"_p$i")
      }
      weightsLong.groupBy(col("token").as("_token"))
        .agg(cols.head, cols.tail: _*)
    }
  }

  private def occurrences(docs: DataFrame, idCol: String, textCol: String,
                          extra: Seq[String] = Nil): DataFrame =
    docs.select((Seq(col(idCol)) ++ extra.map(col) :+
        explode(TextOps.tokens(col(textCol))).as("_token")): _*)
      .filter(col("_token") =!= "")

  /** Fit on the content-addressed `trainPermille` slice of `docs`. Classes
    * are the distinct `classCol` values observed in the slice (collected —
    * k rows, class-scale). */
  def fitTokenClassifier(docs: DataFrame, idCol: String, textCol: String,
                         classCol: String, trainPermille: Int = 700,
                         salt: String = "cls"): TokenClassifier =
    // Session memo ([[ModelMemo]]): llm_cls_train/scores/confusion all fit
    // the identical deterministic model (content-addressed slice, integer
    // ppm weights); the fit is one corpus pass + a checkpoint + two
    // class-scale collects, previously paid per query.
    ModelMemo.memo(docs, s"tokcls:$idCol:$textCol:$classCol:$trainPermille:$salt") {
      fitTokenClassifierUncached(docs, idCol, textCol, classCol,
        trainPermille, salt)
    }

  private def fitTokenClassifierUncached(
      docs: DataFrame, idCol: String, textCol: String,
      classCol: String, trainPermille: Int,
      salt: String): TokenClassifier = {
    val train = docs.filter(Sampling.bucketOf(col(idCol), salt) < trainPermille)
    // One pass over the slice straight to the Zipf-bounded (token, class)
    // table; checkpointed because it feeds totals, vocab AND the weights
    // derivation (round-4 rule d).
    val counts = occurrences(train, idCol, textCol, Seq(classCol))
      .groupBy(col("_token"), col(classCol).as("_cls"))
      .agg(count(lit(1)).as("_cnt"))
      .transform(Lineage.cut)
    // Class totals and vocabulary size: class-scale / single-row collects.
    val stats = counts.groupBy(col("_cls")).agg(sum(col("_cnt")).as("_tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = counts.select(countDistinct(col("_token"))).head().getLong(0)
    val classes = stats.keys.toSeq.sorted
    require(classes.nonEmpty,
      "token classifier: train slice has no (token, class) observations — " +
        "raise trainPermille or check the class column")
    val denoms = classes.map(c => stats(c) + vocab)
    // (cls, token, pts): the interpretable, persistable model artifact —
    // "which tokens vote for which class", in smoothed ppm points.
    val denomCol = coalesce(classes.zip(denoms).map { case (c, v) =>
      when(col("_cls") === c, lit(v))
    }: _*)
    val weights = counts.select(col("_cls").as("cls"), col("_token").as("token"),
        ((col("_cnt") + 1) * PtsScale).as("_num"), denomCol.as("_den"))
      .select(col("cls"), col("token"), expr("_num div _den").as("pts"))
    TokenClassifier(classes, denoms.map(PtsScale / _), weights)
  }

  /** Score every document with at least one token: per-class points sums as
    * k aggregation columns, argmax with ascending-class tie-break (the
    * coalesce-of-whens below tests classes in sorted order, so the FIRST
    * class attaining the max wins a tie — mirrors the oracle's
    * `ORDER BY s DESC, cls`). Empty/no-token documents are absent from the
    * output on both engines.
    *
    * `oov_tokens` counts the document's occurrences whose token the model
    * has never seen in ANY class (the all-floor rows) — the serve-time
    * staleness signal: a rising corpus-wide OOV share means the vocabulary
    * drifted and the model needs retraining. It rides the existing
    * aggregation, zero extra passes. */
  def classifyDocs(docs: DataFrame, idCol: String, textCol: String,
                   m: TokenClassifier,
                   extra: Seq[String] = Nil,
                   broadcastMaxTokens: Long = 4000000L): DataFrame = {
    val occ = occurrences(docs, idCol, textCol, extra)
    // Broadcast-vs-shuffle auto-selection, same LIMIT-probe discipline as
    // lmScore/decontaminate (round-5 rule b): a natural-text vocabulary is
    // Zipf-bounded and broadcasts at any corpus size, but the operator must
    // not assume it — an adversarial vocabulary (id-salted tokens, binary
    // junk) falls back to a shuffle join. The probe reads at most cap+1
    // rows, never the vocabulary.
    // _inv marks "token known to the model" (a wide row exists iff the
    // token was seen in at least one class) — its null after the left join
    // is the OOV flag.
    val wide0 = m.wide.withColumn("_inv", lit(1))
    val probe = math.min(broadcastMaxTokens, Int.MaxValue - 1L).toInt
    // On the fallback path the model is checkpointed first: AQE's
    // OptimizeSkewedJoin structurally declines SMJs whose build side is an
    // aggregate (round-6 rule c), and a hot token ("the") would otherwise
    // concentrate occurrence rows into one unsplittable partition. A
    // LogicalRDD scan keeps the join skew-split eligible; the table is
    // vocabulary-bounded so the materialization is not corpus-scale.
    val wideJ = if (wide0.limit(probe + 1).count() <= probe) broadcast(wide0)
                else wide0.transform(Lineage.cut)
    val joined = occ.join(wideJ, Seq("_token"), "left")
    val sums = m.classes.indices.map(i =>
      sum(coalesce(col(s"_p$i"), lit(m.floors(i)))).as(s"_s$i"))
    val scored = joined.groupBy((col(idCol) +: extra.map(col)): _*)
      .agg(count(lit(1)).as("n_tokens"),
        sums :+ sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("oov_tokens"): _*)
    val maxS =
      if (m.classes.size == 1) col("_s0")
      else greatest(m.classes.indices.map(i => col(s"_s$i")): _*)
    val pred = coalesce(m.classes.zipWithIndex.map { case (c, i) =>
      when(col(s"_s$i") === maxS, lit(c))
    }: _*)
    scored.withColumn("pred", pred).withColumn("pts", maxS)
      .select((Seq(col(idCol)) ++ extra.map(col) ++
        Seq(col("n_tokens"), col("pred"), col("pts"), col("oov_tokens"))): _*)
  }

  /** Held-out confusion matrix: fit on the train slice, score the
    * complement, count (actual, pred) cells. Bounded k² output. */
  def confusionMatrix(docs: DataFrame, idCol: String, textCol: String,
                      classCol: String, trainPermille: Int = 700,
                      salt: String = "cls"): DataFrame = {
    val m = fitTokenClassifier(docs, idCol, textCol, classCol,
      trainPermille, salt)
    val eval = docs.filter(Sampling.bucketOf(col(idCol), salt) >= trainPermille)
    classifyDocs(eval, idCol, textCol, m, Seq(classCol))
      .groupBy(col(classCol).as("actual"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // -----------------------------------------------------------------------
  // Nearest-class-centroid embedding classifier.
  //
  // Scale shape: centroids are (k × dim)-bounded — per-class element sums
  // via ONE (label, pos) aggregation over the train slice, floor-divided by
  // the class count into integer milli-unit means (div truncates toward
  // zero identically in Spark and DuckDB, verified round-9 session-2 rule
  // f, so negative sums are safe). Assignment is a broadcast cross join of
  // the k-row centroid table against the corpus — map-side argmin, no
  // corpus shuffle beyond the final bounded confusion rollup. All distances
  // are int64 on quantized vectors: with milli-quantized unit-scale
  // embeddings, d² ≤ dim · (2·1000·max|x|)², overflow-free for any
  // realistic dim.
  // -----------------------------------------------------------------------

  /** Integer centroid table: (clabel, n, mu ARRAY<BIGINT>) from the
    * content-addressed train slice of (vec_id, embedding, label) rows.
    * mu(i) = Σx(i) div n — truncating integer division, identical in both
    * engines even for negative sums. The per-class element sums come from
    * ONE (label, pos) aggregation; the collect_list is dim-bounded per
    * class. */
  def centroidModel(emb: DataFrame, trainPermille: Int = 700,
                    salt: String = "cent"): DataFrame = {
    // Session memo, the Similarity.modelCache doctrine for a MODEL whose
    // natural form is a k-row TABLE: the fit is deterministic, the rows
    // are class-alphabet-bounded, and ann_centroid_model + confusion both
    // fit the identical (emb, 700, "cent") model — persist it once per
    // session instead of per query (r15 rule a).
    graft.Tables.sweepStopped(centroidCache, (_: (SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, String))._1)
    centroidCache.computeIfAbsent(
      (emb.sparkSession, emb.queryExecution.analyzed.canonicalized,
        trainPermille, salt),
      _ => centroidModelUncached(emb, trainPermille, salt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Int, String), DataFrame]()

  private def centroidModelUncached(emb: DataFrame, trainPermille: Int,
                                    salt: String): DataFrame = {
    // permille >= 1000 keeps every row: skip the filter entirely rather
    // than pay an always-true sha256 bucket probe per row (round-4 rule a
    // — centroidDrift trains on pre-filtered cohorts this way)
    val slice = if (trainPermille >= 1000) emb
      else emb.filter(Sampling.bucketOf(col("vec_id"), salt) < trainPermille)
    val train = slice
      .select(col("label"), Similarity.quantize(col("embedding")).as("_qv"))
    train.select(col("label"), posexplode(col("_qv")).as(Seq("_pos", "_x")))
      .groupBy(col("label"), col("_pos"))
      .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
      .groupBy(col("label").as("clabel"))
      .agg(max(col("_n")).as("n"),
        array_sort(collect_list(struct(col("_pos"), col("_s")))).as("_ps"))
      .select(col("clabel"), col("n"),
        expr("transform(_ps, e -> e._s div n)").as("mu"))
  }

  /** Embedding-distribution drift between two cohorts of (vec_id,
    * embedding, label) rows: per label, the int64 squared-L2 between the
    * cohorts' class centroids — the embedding analog of token drift. A
    * re-embed, encoder upgrade, or data shift shows up as a per-class
    * spike. Two (label, pos)-bounded aggregations + a k-row join; labels
    * absent from either cohort drop (inner join) — symmetric by design. */
  def centroidDrift(a: DataFrame, b: DataFrame): DataFrame = {
    val ma = centroidModel(a, 1000, "all")
      .select(col("clabel"), col("n").as("n_a"), col("mu").as("_ma"))
    val mb = centroidModel(b, 1000, "all")
      .select(col("clabel"), col("n").as("n_b"), col("mu").as("_mb"))
    ma.join(mb, Seq("clabel"))
      .select(col("clabel"), col("n_a"), col("n_b"),
        Similarity.qdist2(col("_ma"), col("_mb")).as("drift_d2"))
  }

  /** Held-out nearest-centroid confusion matrix on quantized vectors. */
  def centroidConfusion(emb: DataFrame, trainPermille: Int = 700,
                        salt: String = "cent"): DataFrame = {
    val cent = broadcast(centroidModel(emb, trainPermille, salt))
    val eval = emb.filter(Sampling.bucketOf(col("vec_id"), salt) >= trainPermille)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("_v"))
    eval.crossJoin(cent)
      .withColumn("_d2", Similarity.qdist2(col("_v"), col("mu")))
      .groupBy(col("vec_id"), col("label"))
      // min_by over (d2, clabel): argmin distance, ties to the LOWEST
      // label — lexicographic struct order works for ANY orderable label
      // type, where the old max_by(-d2, -clabel) negation silently broke
      // (null under non-ANSI / runtime error under ANSI) on string labels
      .agg(min_by(col("clabel"), struct(col("_d2"), col("clabel"))).as("pred"))
      .groupBy(col("label").as("actual"), col("pred"))
      .agg(count(lit(1)).as("n_vecs"))
  }
}
