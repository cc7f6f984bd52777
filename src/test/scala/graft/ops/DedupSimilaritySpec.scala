package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat today"),   // near dup of 1
    (4L, "completely different content about spark query engines"),
    (5L, "hi")                                                    // < 3 tokens
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val got = DedupOps.exactDedup(docs, "doc_id", "text")
    assert(got.count() == 4)
    val dup = got.filter($"copies" === 2).select($"keep_id").as[Long].head()
    assert(dup == 1L)
    val survivors = DedupOps.exactDedupSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash signatures: identical docs share all signature values") {
    val sigs = DedupOps.minhashSignature(docs, "doc_id", "text", 8)
    val s1 = sigs.filter($"doc_id" === 1).drop("doc_id").head()
    val s2 = sigs.filter($"doc_id" === 2).drop("doc_id").head()
    assert(s1 == s2)
    assert(sigs.count() == 5) // the 2-token doc still gets a signature
  }

  test("LSH pairs: exact dups collide; unrelated docs do not") {
    val pairs = DedupOps.candidatePairs(
      DedupOps.lshBuckets(DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"),
      "doc_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => (a == 4L || b == 4L) && (a min b) != 4L })
  }

  test("jaccard: identical = 1.0, near-dup high, ordered pair keys") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = DedupOps.jaccard(pairs, docs, "doc_id", "text")
      .orderBy("id_b").select($"jaccard").as[Double].collect()
    assert(got(0) == 1.0)
    assert(got(1) > 0.5 && got(1) < 1.0)
    assert(got(2) == 0.0)
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val sh = DedupOps.simhash16(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming <= 6, s"near-dup hamming distance was $hamming")
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("connected components: multi-hop chains collapse to the min id, components stay separate") {
    // chain 1-2-3-4-5 (diameter 4 → needs >1 propagation round) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(pairs, "id_a", "id_b", smallEdgeCap = 0)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(n => got(n) == 1L), s"chain must collapse to 1: $got")
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got.size == 7, "one row per node appearing in pairs")
  }

  test("connected components: refuses to return unconverged labels") {
    // a 12-node path needs ~11 propagation rounds; maxIters=3 must throw,
    // not silently split the component
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, "id_a", "id_b", maxIters = 3, smallEdgeCap = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: label order is independent of pair orientation") {
    val a = Seq((5L, 3L), (3L, 9L)).toDF("id_a", "id_b")
    val b = Seq((3L, 5L), (9L, 3L)).toDF("id_a", "id_b")
    val ga = DedupOps.connectedComponents(a, "id_a", "id_b").as[(Long, Long)].collect().toSet
    val gb = DedupOps.connectedComponents(b, "id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ga == gb && ga.forall(_._2 == 3L))
  }

  test("star-contraction CC agrees with propagation CC on random graphs") {
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val prop = DedupOps.connectedComponents(pairs, "id_a", "id_b", maxIters = 60,
        smallEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    val star = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b", smallEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    assert(star == prop)
  }

  test("star-contraction CC handles a deep chain within a few rounds") {
    // a 40-node path: propagation needs ~39 rounds, star contraction ~log n
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponentsStar(chain, "id_a", "id_b", maxIters = 12, smallEdgeCap = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 40 && got.values.forall(_ == 1L),
      "whole path collapses to min label 1")
  }

  test("CC driver union-find fast path equals both distributed algorithms") {
    val rnd = new scala.util.Random(11)
    // random graph + a self-loop-only node (must survive as a singleton)
    val pairs = ((1 to 150).map(_ => (rnd.nextInt(70).toLong, rnd.nextInt(70).toLong)) :+
      ((99L, 99L))).toDF("id_a", "id_b")
    val fast = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val prop = DedupOps.connectedComponents(pairs, "id_a", "id_b", maxIters = 80,
        smallEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    val star = DedupOps.connectedComponentsStar(pairs, "id_a", "id_b", smallEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    assert(fast == prop, "fast path must equal min-label propagation")
    assert(fast == star, "fast path must equal star contraction")
    assert(fast.contains((99L, 99L)), "self-loop node kept as its own singleton")
  }

  test("star edges are connectivity-equivalent to all-pairs candidates") {
    val buckets = DedupOps.lshBuckets(
      DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id")
    val viaPairs = DedupOps.connectedComponents(
      DedupOps.candidatePairs(buckets, "doc_id"), "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val viaStars = DedupOps.connectedComponents(
      DedupOps.bucketStarEdges(buckets, "doc_id"), "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(viaPairs == viaStars, "same nodes, same components, fewer edges")
  }

  test("mega-bucket skew guard: a 10k-member bucket is dropped, other components unchanged") {
    // One degenerate bucket (10k members — expansion would be ~50M pairs in
    // one task) plus two healthy buckets. The guard must drop the mega
    // bucket in bounded time and leave the healthy components identical.
    val mega = (1L to 10000L).map(i => (i, 0, "mega"))
    val healthy = Seq((20001L, 1, "b1"), (20002L, 1, "b1"),
      (20003L, 2, "b2"), (20004L, 2, "b2"), (20005L, 2, "b2"))
    val buckets = (mega ++ healthy).toDF("doc_id", "band", "bucket")

    // Observed metrics populate on the QueryExecution that ran — collect on
    // the dataset whose queryExecution we then read.
    val pairs = DedupOps.candidatePairs(buckets, "doc_id", maxBucket = 1000)
    val gotPairs = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == Set((20001L, 20002L), (20003L, 20004L),
      (20003L, 20005L), (20004L, 20005L)), "only healthy-bucket pairs survive")
    val observedPairs = pairs.queryExecution.observedMetrics("graft.lsh.candidate_pairs")
    assert(observedPairs.getAs[Long]("mega_buckets_dropped") == 1L)

    val stars = DedupOps.bucketStarEdges(buckets, "doc_id", maxBucket = 1000)
    val gotStars = stars.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotStars == Set((20001L, 20002L), (20003L, 20004L), (20003L, 20005L)))
    assert(stars.queryExecution.observedMetrics("graft.lsh.star_edges")
      .getAs[Long]("mega_buckets_dropped") == 1L)

    // Connectivity equivalence holds on the surviving (non-degenerate) part.
    val viaPairs = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val viaStars = DedupOps.connectedComponents(stars, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(viaPairs == viaStars)
  }

  test("near-dup survivors: losers dropped, reps and singletons kept") {
    val got = DedupOps.nearDupSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!got.contains(2L), "exact dup of doc 1 must lose the election")
    assert(got.contains(1L), "cluster representative survives")
    assert(got.contains(4L) && got.contains(5L), "singletons survive")
  }

  test("policy survivors: longest member wins its cluster; constant metric ≡ min-id") {
    // doc 2 is the exact dup of doc 1 (same text, same n_chars-by-length)
    // — give doc 2 a LARGER metric so the policy election must flip the
    // representative away from the min id.
    val metricDocs = docs.withColumn("m",
      when(col("doc_id") === 2L, lit(100L)).otherwise(lit(10L)))
    val byMetric = DedupOps.nearDupSurvivorsBy(metricDocs, "doc_id", "text",
      col("m")).select("doc_id").as[Long].collect().toSet
    assert(byMetric.contains(2L) && !byMetric.contains(1L),
      s"higher-metric member must win the cluster: $byMetric")
    assert(byMetric.contains(4L) && byMetric.contains(5L), "singletons survive")
    // constant metric: max_by ties break to the lowest id, which IS the
    // min-label representative — the policy pipeline degenerates exactly
    val flat = DedupOps.nearDupSurvivorsBy(metricDocs, "doc_id", "text",
      lit(1L)).select("doc_id").as[Long].collect().toSet
    val plain = DedupOps.nearDupSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(flat === plain)
  }

  test("segment dedup: shared segments removed, order preserved, all docs returned") {
    // 8-token segments: docs 1 and 2 share segment [a..h]; doc 1 keeps its
    // unique tail, doc 3 is untouched, doc 4 is empty text.
    val segDocs = Seq(
      (1L, "a b c d e f g h tail one"),
      (2L, "a b c d e f g h other two"),
      (3L, "totally unique words in here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = DedupOps.dropBoilerplateSegments(segDocs, "doc_id", "text",
      segTokens = 8, maxDocs = 1)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("tail one", 2L, 1L)))
    assert(got(2L) == (("other two", 2L, 1L)))
    assert(got(3L) == (("totally unique words in here", 1L, 0L)))
    assert(got(4L) == (("", 0L, 0L)), "empty doc still returned")
  }

  test("segment dedup: join-free maxDocs=1 path equals the join reference on a collision-rich corpus") {
    // Fixture with real cross-doc segment collisions (coarse residue salt,
    // the r13e lesson: fixtures must COLLIDE where the interesting branch
    // needs groups) + within-doc REPEATS of a segment (the min(struct)
    // payload must carry ALL seg_idx occurrences of the single doc).
    val rnd = new scala.util.Random(7)
    val docs = (1L to 120L).map { i =>
      // i%7==0: a doc-UNIQUE segment repeated at seg_idx 0 and 1 — the
      // surviving-with-multiple-occurrences case the min(struct) payload
      // must carry whole. Otherwise: an 8-token segment shared by the
      // i%9 class (dropped), then a random doc-salted tail.
      val head = if (i % 7 == 0) (s"u$i " * 8) * 2 else s"s${i % 9} " * 8
      val tail = (0 until rnd.nextInt(20)).map(_ => s"w${i}x${rnd.nextInt(50)}").mkString(" ")
      (i, s"$head$tail")
    }.toDF("doc_id", "text")
    // Join reference = the generic-path formulation with maxDocs = 1.
    val segs = DedupOps.segmentRows(docs, "doc_id", "text", 8)
    val counts = segs.groupBy($"segment").agg(countDistinct($"doc_id").as("ndocs"))
    val perDoc = segs.join(counts, Seq("segment"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when($"ndocs" > 1, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when($"ndocs" <= 1, struct($"seg_idx", $"segment")))),
          x => x.getField("segment")), " ").as("cleaned_text"))
    val expected = docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cleaned_text", lit("")).as("cleaned_text"),
        coalesce($"n_segs", lit(0L)).as("n_segs"),
        coalesce($"n_removed", lit(0L)).as("n_removed"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue)
    val got = DedupOps.dropBoilerplateSegments(docs, "doc_id", "text", 8, maxDocs = 1)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue)
    assert(got.toSeq == expected.toSeq)
  }

  test("incremental dedup: later batches drop docs seen in earlier commits") {
    import spark.implicits._
    val empty = Seq.empty[String].toDF("fingerprint")
    val batch1 = Seq((1L, "first doc text"), (2L, "second doc text")).toDF("doc_id", "text")
    val (s1, seen1) = DedupOps.incrementalDedup(batch1, empty, "doc_id", "text")
    assert(s1.count() == 2 && seen1.count() == 2)
    val batch2 = Seq(
      (10L, "first doc text"),   // dup of batch-1 doc 1 -> dropped
      (11L, "brand new text"),   // fresh -> kept
      (12L, "same within batch"),
      (13L, "same within batch") // in-batch dup -> min id 12 kept
    ).toDF("doc_id", "text")
    // round-trip the committed set through parquet like a real state store
    val dir = java.nio.file.Files.createTempDirectory("seen").toString
    seen1.write.mode("overwrite").parquet(dir)
    val (s2, seen2) = DedupOps.incrementalDedup(batch2,
      spark.read.parquet(dir), "doc_id", "text")
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 12L))
    assert(seen2.count() == 4, "committed set grows only by fresh fingerprints")
  }

  test("segment dedup identity: with no boilerplate threshold hit, text reassembles exactly") {
    // random word docs, all unique → nothing removed; the ordered fold must
    // reproduce the normalized text byte-for-byte for every segment size
    val rnd = new scala.util.Random(3)
    val docs = (1L to 30L).map { i =>
      (i, (0 until rnd.nextInt(40) + 1).map(_ => s"w${rnd.nextInt(5000)}").mkString(" "))
    }.toDF("doc_id", "text")
    Seq(1, 3, 8, 64).foreach { seg =>
      val bad = DedupOps.dropBoilerplateSegments(docs, "doc_id", "text",
          segTokens = seg, maxDocs = Int.MaxValue)
        .join(docs, Seq("doc_id"))
        .filter(col("cleaned_text") =!= TextOps.normalize(col("text")))
        .count()
      assert(bad == 0, s"segTokens=$seg must reassemble identity")
    }
  }

  test("decontamination: copied test doc flags 100%, unique train doc 0") {
    import graft.ops.Sampling
    // Find real bucket assignments (content-addressed — cannot be chosen),
    // then plant a train doc that copies a test doc verbatim.
    val ids = (0L until 50L).toDF("id")
      .withColumn("b", Sampling.bucketOf($"id", "contam"))
      .as[(Long, Long)].collect()
    val testId = ids.find(_._2 < 100).get._1
    val trainIds = ids.filter(_._2 >= 100).map(_._1).take(2)
    val contamDocs = Seq(
      (testId, "alpha beta gamma delta epsilon zeta"),
      (trainIds(0), "alpha beta gamma delta epsilon zeta"), // verbatim copy
      (trainIds(1), "nothing shared with that held out set")
    ).toDF("doc_id", "text")
    val got = DedupOps.decontaminate(contamDocs, "doc_id", "text")
      .select($"doc_id", $"overlap_ppm", $"contaminated")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(trainIds(0)) == ((1000000L, true)))
    assert(got(trainIds(1)) == ((0L, false)))
    assert(!got.contains(testId), "test docs are not scored")

    // Auto-strategy tiers 2/3 (forced past the driver-set tier): broadcast
    // when the test split is at/below the doc cap, shuffle join above it —
    // and both plans compute identical results.
    def planOf(broadcastMax: Long): (String, Map[Long, Long]) = {
      val df = DedupOps.decontaminate(contamDocs, "doc_id", "text",
        broadcastMaxTestDocs = broadcastMax, driverTestSet = Some(false))
      (df.queryExecution.analyzed.toString,
        df.select($"doc_id", $"overlap_ppm").as[(Long, Long)].collect().toMap)
    }
    val (broadcastPlan, broadcastRes) = planOf(broadcastMax = 1000L)
    val (shufflePlan, shuffleRes) = planOf(broadcastMax = 0L)
    assert(broadcastPlan.contains("ResolvedHint"),
      s"small split must carry the broadcast hint:\n$broadcastPlan")
    assert(!shufflePlan.contains("ResolvedHint"),
      s"split above the cap must NOT broadcast:\n$shufflePlan")
    assert(broadcastRes == shuffleRes, "join strategy must never change results")

    // Tier 1 (r19, map-only driver set): bit-identical rows to the join
    // path; the auto-dispatch flips on the shingle cap (cap 0 → join path —
    // behavioral pin, the r12b no-plan-through-checkpoint lesson doesn't
    // bite here but the flip must still be observable structurally: the
    // join path carries an Aggregate-after-Join, tier 1 does not).
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_shingles", $"n_matched", $"overlap_ppm",
        $"contaminated").as[(Long, Long, Long, Long, Boolean)].collect().toSet
    val forcedDriver = DedupOps.decontaminate(contamDocs, "doc_id", "text",
      driverTestSet = Some(true))
    val forcedJoin = DedupOps.decontaminate(contamDocs, "doc_id", "text",
      driverTestSet = Some(false))
    assert(rowsOf(forcedDriver) == rowsOf(forcedJoin),
      "driver-set and join paths must be bit-identical")
    val autoSmallCap = DedupOps.decontaminate(contamDocs, "doc_id", "text",
      maxDriverTestShingles = 0L)
    assert(autoSmallCap.queryExecution.analyzed.toString.contains("Join"),
      "cap 0 must auto-select the join path")
    val autoDefault = DedupOps.decontaminate(contamDocs, "doc_id", "text")
    assert(!autoDefault.queryExecution.analyzed.toString.contains("Join"),
      "default cap on a tiny split must auto-select the map-only path")
    assert(rowsOf(autoDefault) == rowsOf(forcedJoin))

    // forced driver set + over-cap (cap 0) completes via the full collect;
    // a NULL-text test doc contributes a null _h row that must be skipped,
    // not NPE'd on (r20 advice fix) — and the result still matches the
    // join path run on the same fixture
    val testId2 = ids.filter(_._2 < 100).map(_._1).drop(1).headOption
      .getOrElse(testId)
    val withNullText = contamDocs.union(
      Seq((testId2, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val forcedCompleted = DedupOps.decontaminate(withNullText, "doc_id", "text",
      driverTestSet = Some(true), maxDriverTestShingles = 0L)
    assert(rowsOf(forcedCompleted) ==
      rowsOf(DedupOps.decontaminate(withNullText, "doc_id", "text",
        driverTestSet = Some(false))),
      "forced completion with a null-text test doc must match the join path")
  }

  test("incremental near-dedup: committed buckets reject near-dups, hubs admit batchmates' losers") {
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated content about streaming engines")
    ).toDF("doc_id", "text")
    val empty = Seq.empty[(Int, String)].toDF("band", "bucket")
    val (s1, seen1) = DedupOps.incrementalNearDedup(batch1, empty, "doc_id", "text")
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "first batch of distinct docs fully admits")

    val batch2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // near/exact dup of committed 1
      (11L, "fresh novel text nothing has ever bucketed before"),
      (12L, "fresh novel text nothing has ever bucketed before")  // intra-batch dup of 11
    ).toDF("doc_id", "text")
    val (s2, seen2) = DedupOps.incrementalNearDedup(batch2, seen1, "doc_id", "text")
    val got = s2.select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L), s"expected only the fresh hub to admit, got $got")
    // the admitted hub's buckets are now committed: a third batch dup loses
    val batch3 = Seq((20L, "fresh novel text nothing has ever bucketed before"))
      .toDF("doc_id", "text")
    val (s3, _) = DedupOps.incrementalNearDedup(batch3, seen2, "doc_id", "text")
    assert(s3.count() == 0, "state advanced: batch-2 admission blocks batch-3 dups")
  }

  test("duplicated spans: cross-doc spans surface; within-doc and unique spans don't") {
    val spanDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta tail one"),
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta"), // shares the 8-token span
      (3L, "solo solo solo solo solo solo solo solo"),              // one doc only
      (4L, "completely different words that never repeat anywhere else at all")
    ).toDF("doc_id", "text")
    val got = DedupOps.duplicatedSpans(spanDocs, "doc_id", "text", width = 8, topK = 10)
      .collect()
    assert(got.forall(_.getAs[Long]("n_docs") > 1), "only cross-doc spans survive")
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val row = got.find(_.getString(0) == shared)
    assert(row.isDefined, s"shared span missing from ${got.map(_.getString(0)).toSeq}")
    assert(row.get.getAs[Long]("n_occ") == 2 && row.get.getAs[Long]("n_docs") == 2
      && row.get.getAs[Long]("first_doc") == 1L)
    assert(!got.exists(_.getString(0).contains("solo")),
      "a span confined to one document is not corpus duplication")
  }

  test("duplicated spans match the naive computation on random corpora") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val randomDocs = (1 to 40).map { i =>
      (i.toLong, (0 until (4 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = DedupOps.duplicatedSpans(randomDocs.toDF("doc_id", "text"),
        "doc_id", "text", width = 4, topK = 1000)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_occ"), r.getAs[Long]("n_docs"), r.getAs[Long]("first_doc")))).toMap
    // Naive: every 4-token window per doc, aggregated in plain Scala.
    val windows = randomDocs.flatMap { case (id, text) =>
      val t = text.split(" ")
      if (t.length < 4) Seq.empty
      else (0 to t.length - 4).map(i => (t.slice(i, i + 4).mkString(" "), id))
    }
    val naive = windows.groupBy(_._1).collect {
      case (span, occ) if occ.map(_._2).distinct.size > 1 =>
        span -> ((occ.size.toLong, occ.map(_._2).distinct.size.toLong, occ.map(_._2).min))
    }
    assert(got == naive, s"operator disagrees with naive on ${got.size} vs ${naive.size} spans")
  }

  test("duplicated spans: hash-keyed two-pass equals string-keyed form at a tied boundary") {
    // Tiny vocab → many spans share identical (n_occ, n_docs), so a small
    // topK lands INSIDE a tie group — exactly the boundary where a
    // hash-ordered candidate cut would diverge from the span-ordered
    // contract if the tie-inclusive threshold were wrong.
    val rnd = new scala.util.Random(29)
    val vocab = Vector("a", "b", "c")
    val docs = (1 to 60).map { i =>
      (i.toLong, (0 until (5 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (k <- Seq(1, 3, 7, 1000)) {
      val hashed = DedupOps.duplicatedSpansHashKeyed(docs, "doc_id", "text", width = 3, topK = k)
        .collect().map(_.toSeq).toSeq
      val strung = DedupOps.duplicatedSpans(docs, "doc_id", "text", width = 3, topK = k)
        .collect().map(_.toSeq).toSeq
      assert(hashed == strung, s"forms diverge at topK=$k")
    }
  }

  test("source dup rollup: boilerplate-heavy source saturates, unique source at zero") {
    val srcDocs = Seq(
      (1L, "the same boilerplate sentence appears here", "feedA"),
      (2L, "the same boilerplate sentence appears here", "feedA"),
      (3L, "entirely unique content alpha beta gamma", "feedB")
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.sourceDupRollup(srcDocs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_shingle_occ"), r.getAs[Long]("dup_ppm")))).toMap
    assert(got("feedA")._2 == 1000000L, "every feedA shingle is shared across its two docs")
    assert(got("feedB")._2 == 0L)
    assert(got("feedA")._1 == 8L, "2 docs x 4 shingles of a 6-token text")
  }

  test("source dup rollup: join-free shape is value-identical on a hot-shingle fixture; AQE cannot split the naive join") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    // plan.collect does NOT descend into query stages (their plan is an
    // innerChild), so walk the adaptive tree explicitly. Inspect the
    // Dataset that actually RAN (round-5 observe lesson: a derived
    // orderBy has its own never-executed QueryExecution).
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.flatMap(walk)
    })
    // Only substantial stages: a near-empty control exchange (e.g. the
    // 4-row final rollup) has a ~zero median and would read as "skewed".
    def worstSkew(nodes: Seq[SparkPlan]): Double = nodes.collect {
      case s: ShuffleQueryStageExec
        if s.mapStats.exists(m => m.bytesByPartitionId.length > 1 &&
          m.bytesByPartitionId.sum > 32768) =>
        val sizes = s.mapStats.get.bytesByPartitionId
        sizes.max.toDouble / math.max(1L, sizes.sorted.apply(sizes.length / 2))
    }.max

    // ONE dominant shingle type: a single repeated token makes every
    // 3-window of the hot text hash identically, so all its occurrence
    // rows share one `_h`; the non-hot base is kept thin so the hot
    // partition dwarfs the median even after LZ4 crushes the repetitive
    // hot rows.
    val rnd = new scala.util.Random(41)
    val hotText = Seq.fill(62)("buy").mkString(" ")
    val docs = (1 to 2000).map { i =>
      val tail = (0 until 5).map(_ => s"w${rnd.nextInt(1000000)}").mkString(" ")
      val text = if (i % 2 == 0) hotText else tail
      (i.toLong, text, s"feed${i % 4}")
    }.toDF("doc_id", "text", "source").localCheckpoint()

    // Reference: the plain single-join form (occurrences x per-shingle
    // counts) - the shape the operator abandoned BECAUSE AQE cannot split
    // a join whose build side is an aggregate.
    def singleJoin(d: DataFrame): DataFrame = {
      val occ = DedupOps.shingleHashRows(d, "doc_id", "text").localCheckpoint()
      val perShingleDocs = occ.groupBy($"_h").agg(countDistinct($"doc_id").as("_nd"))
      occ.join(d.select($"doc_id", $"source"), Seq("doc_id"))
        .join(perShingleDocs, Seq("_h"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_shingle_occ"),
          sum(when($"_nd" > 1, 1L).otherwise(0L)).as("n_dup_occ"))
        .withColumn("dup_ppm", expr("n_dup_occ * 1000000 div n_shingle_occ"))
    }
    val expected = singleJoin(docs).collect().toSeq.sortBy(_.getString(0))

    // (1) AQE declination: with the skew thresholds forced low enough
    // that the mega-partition is flagrant, OptimizeSkewedJoin still
    // leaves the single-join form unsplit (its build side is an
    // aggregate, not a ShuffleRead) - the structural gap the two-path
    // operator exists to close.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      val sj = singleJoin(docs)
      sj.collect()
      val nodes = walk(sj.queryExecution.executedPlan)
      val ratio = worstSkew(nodes)
      assert(ratio > 2.0,
        s"fixture must actually present a mega-partition (max/median $ratio)")
      assert(!nodes.exists { case j: SortMergeJoinExec => j.isSkewJoin; case _ => false },
        "expected AQE to DECLINE the split (join-above-aggregate shape); " +
          "if Spark learns this, reconsider the two-path operator")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }

    // (2) The r18 join-free operator: value-identical to the naive
    // single-join reference on the adversarial hot fixture (and with the
    // legacy threshold param set, which must be a no-op).
    val joinFree = DedupOps.sourceDupRollup(docs, "doc_id", "text", "source")
    val got = joinFree.collect().toSeq.sortBy(_.getString(0))
    assert(got == expected, "join-free rollup must not change values")
    assert(DedupOps.sourceDupRollup(docs, "doc_id", "text", "source",
        hotOccThreshold = 100L)
      .collect().toSeq.sortBy(_.getString(0)) == expected,
      "legacy hotOccThreshold must be value-invisible")

    // Plan pin: NO join carries occurrence-scale rows — the only join in
    // the plan is the final source-domain merge of two bounded aggregates
    // (broadcast). The skew the two-path machinery used to manage is gone
    // WITH the join; the remaining hot-key concentration (one row per
    // (hot shingle, doc) pair into the per-shingle rollup's reduce
    // partition) is the same distinct-pair bound the old countDistinct
    // paid internally, so no skew-ratio pin applies to it.
    val nodes2 = walk(joinFree.queryExecution.executedPlan)
    val joins = nodes2.collect {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      "only the bounded source-domain broadcast merge may join")
    assert(joins.size <= 1, s"expected at most the final merge join, got ${joins.size}")
  }

  test("PQ top-k: codebook vectors are their own codes; duplicates tie exactly") {
    // dim=4, m=2 subspaces, codebook = first 2 vectors. Vector 3 duplicates
    // vector 0, vector 4 is near vector 1.
    val pq = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f, 1.0f, 0.0f)),   // exact dup of 0
      (4L, Array(0.1f, 0.9f, 0.0f, 1.0f))    // near 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(pq, pq.filter($"vec_id" === 0), k = 3,
      m = 2, ksub = 2, dim = 4)
      .orderBy($"rank").as[(Long, Long, Long, Long)].collect()
    // dup of the query's own codes scores highest; scores of 0's dup equal
    // what the query would score against itself (same codes)
    assert(got.head._3 == 3L, s"nearest must be the duplicate, got $got")
    val scores = got.map(r => r._3 -> r._4).toMap
    assert(scores(3L) > scores(4L) && scores(4L) > scores(1L) || scores(4L) == scores(1L),
      s"ranking must follow code similarity, got $got")
  }

  test("quantized dot product is exact") {
    val got = vecs.filter($"vec_id" === 1)
      .select(Similarity.qdot(
        Similarity.quantize($"embedding"),
        Similarity.quantize($"embedding")).as("d")).as[Long].head()
    assert(got == 900L * 900 + 100L * 100) // 0.9,0.1 quantized to 900,100
  }

  test("brute-force top-k ranks by similarity") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 3)
      .orderBy("rank").select($"vec_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 2L, 3L)) // most similar first, opposite last
  }

  test("LSH top-k only searches the query's bucket and identical vectors collide") {
    val got = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 0), 3, planes = 4, dim = 3)
    val neighbours = got.select("vec_id").as[Long].collect().toSet
    assert(neighbours.contains(1L))  // same half-space as the query
    assert(!neighbours.contains(3L)) // opposite vector lands in another bucket
  }

  test("diversity stats: the O(N) identity equals the naive pairwise computation") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 30).map { i =>
      (i % 3, Seq.fill(5)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("grp", "embedding")
    val got = Similarity.diversityStats(df, $"grp".cast("long"), $"embedding")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // naive reference on the SAME quantization
    val quant = rows.map { case (g, v) => (g.toLong, v.map(x => math.round(x.toDouble * 1000))) }
    for (g <- Seq(0L, 1L, 2L)) {
      val vs = quant.filter(_._1 == g).map(_._2)
      val n = vs.size.toLong
      val ssq = vs.map(v => v.map(q => q * q).sum).sum
      val pairSum = (for {
        i <- vs.indices; j <- vs.indices if i < j
      } yield vs(i).zip(vs(j)).map { case (a, b) => (a - b) * (a - b) }.sum).sum
      val expMean = pairSum / (n * (n - 1) / 2)
      assert(got(g)._1 == n)
      assert(got(g)._2 == ssq / n, s"mean_sq_norm group $g")
      assert(got(g)._3 == expMean, s"mean_pair_d2 group $g: got ${got(g)._3}, naive $expMean")
    }
    // singleton group degenerates to zero diversity
    val single = Similarity.diversityStats(
      Seq((9, Seq(0.5f, -0.5f))).toDF("grp", "embedding"),
      $"grp".cast("long"), $"embedding")
      .as[(Long, Long, Long, Long)].collect().head
    assert(single._2 == 1L && single._4 == 0L)
  }

  test("source overlap: copied feeds score high, disjoint feeds score zero, exact under k") {
    // feed B copies half of feed A's docs verbatim; feed C is disjoint.
    // Sized so |A ∪ B| < k: the sketch is the distinct set (exact regime).
    val aTexts = (0 until 16).map(i => s"alpha doc $i shares token stream number $i end")
    val bTexts = aTexts.take(8) ++
      (0 until 8).map(i => s"beta original content piece $i unlike others $i tail")
    val cTexts = (0 until 16).map(i => s"gamma completely different corpus entry $i closing")
    val docs = (aTexts.map(("A", _)) ++ bTexts.map(("B", _)) ++ cTexts.map(("C", _)))
      .zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      .toDF("doc_id", "source", "text")
    val got = DedupOps.sourceOverlap(docs, "source", "doc_id", "text", k = 256)
      .as[(String, String, Long, Long, Long)].collect()
      .map { case (a, b, kk, ic, j) => ((a, b), (kk, ic, j)) }.toMap
    assert(got.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(got(("A", "C"))._3 == 0L, s"disjoint feeds must be 0: ${got(("A", "C"))}")
    assert(got(("B", "C"))._3 == 0L)
    // under k the sketch IS the distinct set, so the estimate is the EXACT
    // Jaccard of the two shingle sets — compute it independently
    val sets = DedupOps.shingleHashRows(docs, "doc_id", "text")
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .select($"source", $"_h").distinct()
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val exact = sets("A").intersect(sets("B")).size * 1000000L /
      sets("A").union(sets("B")).size
    assert(got(("A", "B"))._3 == exact,
      s"under-k regime must be exact: got ${got(("A", "B"))._3}, exact $exact")
    assert(got(("A", "B"))._3 > 200000L, "copied half must score high")
  }

  test("mmrSelect: first pick is pure relevance; the diversity term demotes clones") {
    // probe q = e0; v1 ≈ v2 (clones, both most-relevant to q AND with a
    // large mutual dot via dim 1, so the 0.3-weighted diversity penalty
    // can actually outweigh their 0.7-weighted relevance edge); v3 is
    // slightly less relevant but near-orthogonal to v1.
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    val emb = Seq(
      (0L, v(1.0, 0.0, 0.0, 0.0)),
      (1L, v(0.9, 0.9, 0.0, 0.0)),
      (2L, v(0.9, 0.9, 0.0, 0.001)), // clone of 1
      (3L, v(0.8, 0.0, 0.0, 0.0)),   // diverse runner-up
      (4L, v(0.0, 1.0, 0.0, 0.0))    // irrelevant
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(emb, "vec_id", "embedding",
        probeId = 0L, k = 3, lambdaMilli = 700L)
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).distinct.length === 3, "no repeats")
    assert(got(0)._2 === 1L, "first pick = relevance argmax (clone tie -> min id)")
    // pure top-k would pick the clone second; MMR must not
    assert(got.map(_._2).toSeq === Seq(1L, 3L, 2L),
      s"diversity must demote the clone to third, got ${got.toSeq}")
    assert(got(0)._4 === 0L, "round 1 has no diversity term")
  }

  test("lshPlan picks the S-curve knee; ties break toward recall; repo default reproduced") {
    // numPerms=8, target 0.5 -> (b=4, r=2): knee (1/4)^(1/2) = 0.5 exactly —
    // the repo's shipped default (8 perms, 4 bands)
    val p = DedupOps.lshPlan(0.5, 8)
    assert(p.bands == 4 && p.rowsPerBand == 2)
    assert(math.abs(p.thresholdAtCurve - 0.5) < 1e-12)
    // collision probability at the threshold must exceed the sub-threshold one
    assert(p.pAtThreshold > p.pBelow)
    // exact tie (numPerms=2, target 0.75: knees 1.0 and 0.5 both 0.25 away)
    // -> more bands wins (recall bias)
    val tie = DedupOps.lshPlan(0.75, 2)
    assert(tie.bands == 2 && tie.rowsPerBand == 1)
    // a high-precision target drives toward more rows per band
    val hp = DedupOps.lshPlan(0.95, 16)
    assert(hp.rowsPerBand > DedupOps.lshPlan(0.3, 16).rowsPerBand)
  }

  test("scorePairsExact matches in-row quantized dot products") {
    val vecs = Seq(
      (0L, Array(0.5f, -1.0f, 2.0f)),
      (1L, Array(1.0f, 0.25f, -0.5f)),
      (2L, Array(-2.0f, 0.0f, 1.5f))
    ).toDF("vec_id", "embedding")
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val exact = Similarity.scorePairsExact(pairs, vecs)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect()
    // in-row scoring for comparison
    val q = vecs.select($"vec_id", Similarity.quantize($"embedding").as("qv"))
    val inRow = pairs
      .join(q.select($"vec_id".as("id_a"), $"qv".as("qa")), Seq("id_a"))
      .join(q.select($"vec_id".as("id_b"), $"qv".as("qb")), Seq("id_b"))
      .select($"id_a", $"id_b", Similarity.qdot($"qa", $"qb").as("score"))
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect()
    assert(exact.toSeq == inRow.toSeq)
    assert(exact.head == ((0L, 1L, (500L * 1000 + -1000L * 250 + 2000L * -500))))
  }
}
