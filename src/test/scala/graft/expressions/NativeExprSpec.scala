package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("native gzip expressions resolve from SQL via SparkSessionExtensions") {
    val got = spark.sql(
      """SELECT cast(gzip_decompress(gzip_compress(cast('hello native codegen' as binary))) as string) AS s,
        |       octet_length(gzip_compress(cast(repeat('x', 1000) as binary))) AS gz_len
        |""".stripMargin).as[(String, Int)].head()
    assert(got._1 == "hello native codegen")
    assert(got._2 < 1000 && got._2 > 0)
  }

  test("r20 ThreadLocal codec is byte-identical to the JDK streaming path") {
    // The reused-Deflater fast path must emit EXACTLY the bytes
    // GZIPOutputStream would (fixed 10-byte header, same deflate stream,
    // CRC32+ISIZE trailer) — the reference's Gzip.cs determinism contract,
    // and what keeps the r20 native-churn fix invisible to every consumer.
    def jdkGzip(in: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(in); gz.close()
      bos.toByteArray
    }
    val rnd = new scala.util.Random(42)
    val cases: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      "x".getBytes("UTF-8"),
      ("payload " * 500).getBytes("UTF-8"),
      Array.fill(65536)(rnd.nextInt(256).toByte),
      Array.fill(100000)(0x00.toByte))
    for (c <- cases) {
      val ours = GzipCodec.compress(c)
      assert(ours.sameElements(jdkGzip(c)), s"compress mismatch at len=${c.length}")
      assert(GzipCodec.decompress(ours).sameElements(c), s"roundtrip at len=${c.length}")
      // repeat on the same thread: reset() must leave no state behind
      assert(GzipCodec.compress(c).sameElements(ours), s"re-use at len=${c.length}")
    }
  }

  test("r20 decompress falls back to the streaming path on non-trivial streams") {
    val a = "first member ".getBytes("UTF-8")
    val b = "second member".getBytes("UTF-8")
    // Concatenated multi-member stream: RFC 1952 says the result is the
    // concatenation of the members; GZIPInputStream honours that and the
    // fast path must detect the extra trailing bytes and defer.
    val multi = GzipCodec.compress(a) ++ GzipCodec.compress(b)
    assert(GzipCodec.decompress(multi).sameElements(a ++ b))
    // FNAME flag set (FLG byte != 0): fast path defers on the header check.
    val plain = GzipCodec.compress(a)
    val flagged = plain.clone()
    flagged(3) = 0x08 // FNAME
    val withName = flagged.take(10) ++
      ("n.txt".getBytes("ISO-8859-1") :+ 0.toByte) ++ plain.drop(10)
    assert(GzipCodec.decompress(withName).sameElements(a))
    // Corrupt trailer CRC throws, as the JDK path does.
    val bad = plain.clone(); bad(bad.length - 5) = (bad(bad.length - 5) ^ 0x5a).toByte
    intercept[java.io.IOException](GzipCodec.decompress(bad))
  }

  test("call_function gzip_compress matches Scalars.gzip byte for byte") {
    val df = Seq("payload payload payload").toDF("t")
    val native = df.select(
      call_function("gzip_compress", $"t".cast("binary")).as("z")).as[Array[Byte]].head()
    val direct = df.select(
      graft.functions.Scalars.gzip($"t".cast("binary")).as("z")).as[Array[Byte]].head()
    assert(native.sameElements(direct))
    // and stays inside a codegen'd projection (no BatchEvalPython/ScalaUDF node)
    val plan = df.select(call_function("gzip_compress", $"t".cast("binary")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  test("repetition_stats resolves from SQL and matches the Column-API path") {
    val got = spark.sql(
      """SELECT repetition_stats(array('a', 'a', 'a', 'b')) AS s"""
    ).select($"s.n_tokens", $"s.distinct_tokens", $"s.top_token",
        $"s.max_bigram", $"s.rep_trigram")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((4L, 2L, 3L, 2L, 0L)))
    val typeErr = intercept[Exception] {
      spark.sql("SELECT repetition_stats(42)").collect()
    }
    assert(typeErr.getMessage.contains("ARRAY<STRING>") ||
      typeErr.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("gzip_compress rejects non-binary input with a type error") {
    val ex = intercept[Exception] {
      spark.sql("SELECT gzip_compress(42)").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("binary") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("pair_structs matches the HOF pair formulation and handles edges") {
    val df = Seq(
      (1L, Seq(3L, 5L, 9L, 11L)), // C(4,2) = 6 pairs, positional order
      (2L, Seq(7L)),              // single item: no pairs
      (3L, Seq.empty[Long])       // empty: no pairs
    ).toDF("id", "_items")
    val native = df.selectExpr("id", "explode(pair_structs(_items)) AS e")
      .selectExpr("id", "e.pa", "e.pb").as[(Long, Long, Long)].collect().toSet
    val hof = df.select($"id", explode(expr(
        """flatten(transform(_items, (x, i) ->
          |  transform(slice(_items, i + 2, size(_items)), y ->
          |    struct(x AS pa, y AS pb))))""".stripMargin)).as("e"))
      .selectExpr("id", "e.pa", "e.pb").as[(Long, Long, Long)].collect().toSet
    assert(native == hof)
    assert(native.count(_._1 == 1L) == 6)
    assert(!native.exists(_._1 >= 2L), "singleton and empty arrays yield no pairs")
    val typeErr = intercept[Exception] {
      spark.sql("SELECT pair_structs(array('a','b'))").collect()
    }
    assert(typeErr.getMessage.contains("BIGINT") ||
      typeErr.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("winnow_mins and simhash_fp tolerate null array elements; pair_structs caps size") {
    // null tokens: simhash skips them like empties; winnow joins the
    // shingle like concat_ws (null args dropped)
    val withNull = spark.sql(
      "SELECT simhash_fp(array('a', CAST(NULL AS STRING), 'a', 'b'), 8) AS s").collect()
    val clean = spark.sql("SELECT simhash_fp(array('a', 'a', 'b'), 8) AS s").collect()
    assert(withNull.head.getLong(0) == clean.head.getLong(0))
    // winnow with a null token: shingles of (a, NULL, b, c) join like
    // concat_ws — ('a b', 'b c'); one window of 2 → least of the two
    // hash60 % P values
    val wmNull = spark.sql(
      "SELECT winnow_mins(array('a', CAST(NULL AS STRING), 'b', 'c'), 2) AS m")
      .collect().head.getSeq[Long](0)
    val ref = spark.sql(
      """SELECT least(
        |  CAST(conv(substring(sha2('a b', 256), 1, 15), 16, 10) AS BIGINT) % 2147483647,
        |  CAST(conv(substring(sha2('b c', 256), 1, 15), 16, 10) AS BIGINT) % 2147483647) AS h
        |""".stripMargin).collect().head.getLong(0)
    assert(wmNull == Seq(ref))
    val err = intercept[Exception] {
      spark.sql("SELECT pair_structs(transform(sequence(1, 70000), x -> CAST(x AS BIGINT)))")
        .collect()
    }
    assert(err.getMessage.contains("pair_structs") ||
      Option(err.getCause).exists(_.getMessage.contains("pair_structs")))
  }

  test("hot-path kernel helpers build DIRECT expressions, not catalog lookups (r18 advice)") {
    // A session that never registered GraftExtensions must still be able
    // to use every operator: the Column helpers construct the Catalyst
    // expression via ColumnGlue instead of call_function, so resolution
    // never consults the function registry. Pin the mechanism by class.
    import org.apache.spark.sql.graftglue.ColumnGlue
    import graft.ops.{Similarity, TextOps}
    def exprOf(c: org.apache.spark.sql.Column) = ColumnGlue.expression(c)
    assert(exprOf(TextOps.normalize(col("x")))
      .isInstanceOf[graft.expressions.NormalizeText])
    assert(exprOf(TextOps.tokens(col("x")))
      .isInstanceOf[graft.expressions.TokensNorm])
    assert(exprOf(TextOps.punctCount(col("x")))
      .isInstanceOf[graft.expressions.PunctCount])
    assert(exprOf(Similarity.quantize(col("v")))
      .isInstanceOf[graft.expressions.QuantizeMilli])
    assert(exprOf(Similarity.qdot(col("a"), col("b")))
      .isInstanceOf[graft.expressions.QDot])
    assert(exprOf(Similarity.qdist2(col("a"), col("b")))
      .isInstanceOf[graft.expressions.QDist2])
  }

  test("span_counts and seg_groups: window semantics match the expression forms (r20)") {
    // sliding: spans at stride 1, within-doc counts, first-occurrence order
    val sl = spark.sql(
      "SELECT span_counts(array('a','b','a','b','a'), 2) AS g")
      .selectExpr("explode(g) AS e").select($"e.s", $"e.c")
      .as[(String, Long)].collect().toSeq
    assert(sl == Seq(("a b", 2L), ("b a", 2L)))
    // short doc: fewer tokens than width → empty, not null
    assert(spark.sql("SELECT size(span_counts(array('x'), 2)) AS n")
      .as[Int].head() == 0)
    // null array → null out
    assert(spark.sql("SELECT span_counts(cast(null AS array<string>), 2) IS NULL AS z")
      .as[Boolean].head())
    // aligned: stride = width, short tail segment, repeated segment gets
    // an ascending idx list
    val al = spark.sql(
      "SELECT seg_groups(array('a','b','a','b','c'), 2) AS g")
      .selectExpr("explode(g) AS e").select($"e.s", $"e.x")
      .as[(String, Seq[Long])].collect().toSeq
    assert(al == Seq(("a b", Seq(0L, 1L)), ("c", Seq(2L))))
    assert(spark.sql("SELECT size(seg_groups(cast(array() AS array<string>), 3)) AS n")
      .as[Int].head() == 0)
  }

  test("vocab_mins: bounded bottom-k by UTF8 key order; under-k result is the " +
      "complete sorted vocab (r20, the kmv_mins probe-and-fetch for strings)") {
    val n = 5000
    val df = (0 until n).map(i => (f"tok$i%05d", i.toLong))
      .toDF("tok", "df").repartition(16) // force real partial merges
    def fetch(k: Int): Seq[(String, Long)] =
      df.agg(expr(s"vocab_mins(tok, df, $k)").as("a"))
        .selectExpr("explode(a) AS e").select($"e.tok", $"e.df")
        .as[(String, Long)].collect().toSeq
    // k below the vocab size: exactly the k lexicographically-smallest keys
    val bottom = fetch(50)
    assert(bottom == (0 until 50).map(i => (f"tok$i%05d", i.toLong)))
    // k above the vocab size: the COMPLETE vocab in sort_array order
    val full = fetch(n + 1)
    val viaCollectList = df
      .agg(sort_array(collect_list(struct($"tok", $"df"))).as("a"))
      .selectExpr("explode(a) AS e").select($"e.tok", $"e.df")
      .as[(String, Long)].collect().toSeq
    assert(full == viaCollectList,
      "under-cap vocab_mins must equal the sort_array(collect_list) fetch")
    assert(full.size == n)
    // null keys/values are skipped, matching the join tiers' behavior
    val withNulls = Seq((Some("aa"), Some(1L)), (None, Some(2L)), (Some("bb"), None))
      .toDF("tok", "df")
    val got = withNulls.agg(expr("vocab_mins(tok, df, 10)").as("a"))
      .selectExpr("explode(a) AS e").select($"e.tok", $"e.df")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("aa", 1L)))
  }
}
