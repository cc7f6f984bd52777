package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * A failed query is reported in an "errors" map and contributes nothing
  * to the total (a broken query must never look like a fast success).
  *
  * Each query is forced through a noop write — `count()` would let the
  * optimizer prune projection-ending queries down to a row count, timing
  * none of the operator's actual work (the trap CLAUDE.md documents). */
object Bench {

  /** Locale-invariant "%.3f": the default-locale `format` emits a comma
    * decimal separator under comma-decimal locales, which is invalid JSON
    * in the machine-parsed stdout line. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Invoke tools/bench_duckdb.py: dump the oracle SQL and time every query
    * in DuckDB, rewriting `outPath` with the per-query denominator map +
    * freshness stamps. Tolerates a missing artifact (duckdb-first order
    * creates it). Failures leave whatever denominator the artifact already
    * carries (labeled by the merge step). */
  private def runPairing(sfDir: String, outPath: String): Unit = {
    val esc = Harness.jsonEscape _
    // CWD-robust: the driver may invoke sbt from elsewhere — walk up from
    // the working directory looking for tools/bench_duckdb.py (the repo
    // root), instead of hard-coding one checkout location.
    val rel = java.nio.file.Paths.get("tools", "bench_duckdb.py")
    // Roots, in precedence order: explicit env override (forked/daemonized
    // JVMs whose cwd is outside the tree — r18 advice fix), then the cwd
    // walk-up, then the classpath location of this class (target/... sits
    // under the repo root, so its walk-up finds tools/ too).
    val roots =
      sys.env.get("SPARK_GRAFT_REPO_ROOT").map(java.nio.file.Paths.get(_)).iterator ++
      Iterator.iterate(java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath) { p =>
        Option(p.getParent).orNull
      }.takeWhile(_ != null).take(8) ++
      (try {
        val loc = java.nio.file.Paths.get(
          getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
        Iterator.iterate(loc)(p => Option(p.getParent).orNull)
          .takeWhile(_ != null).take(8)
      } catch { case _: Exception => Iterator.empty })
    val script = roots
      .map(_.resolve(rel))
      .find(java.nio.file.Files.exists(_))
      .getOrElse {
        System.err.println("[bench-pair] tools/bench_duckdb.py not found — skipping same-window pairing")
        return
      }
    try {
      val oraclePath = outPath.stripSuffix(".json") + ".oracle_sql.json"
      val oj = SparkEntry.oracleSql
        .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(oraclePath), oj)
      val pb = new ProcessBuilder("python3", script.toString, sfDir, outPath, oraclePath)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().foreach(l => System.err.println(s"[bench-pair] $l"))
      val code = proc.waitFor()
      if (code != 0)
        System.err.println(s"[bench-pair] exited $code — artifact keeps the labeled carried-over denominator")
    } catch { case e: Exception =>
      System.err.println(s"[bench-pair] failed: ${e.getMessage} — artifact keeps the labeled carried-over denominator")
    }
  }

  def main(args: Array[String]): Unit = {
    val procStart = java.time.Instant.now()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset (comma-separated names) + repeat count for controlled
    // A/B timing — per-query noise on a loaded machine is ±50%, so single
    // runs of single queries are not comparable across invocations.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    // A SPARK_GRAFT_ONLY subset run must never clobber the headline
    // artifact: round 8 shipped a 3-query debug run over the only
    // demonstrable full pairing (the r8 advice asked for exactly this
    // guard). Full-registry runs keep the default path; subsets divert.
    val defaultOut = if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val doPair = only.isEmpty && !sys.env.contains("SPARK_GRAFT_NO_PAIR")
    // Pairing order: spark-first (default) times DuckDB right after the
    // Spark pass; duckdb-first times it BEFORE this JVM does any Spark
    // work — run both orders across two invocations for a publishable
    // code-change claim (the BENCHNOTES both-orders discipline, now a
    // harness switch instead of a manual campaign).
    val pairOrder = sys.env.getOrElse("SPARK_GRAFT_PAIR_ORDER", "spark-first")
    require(Set("spark-first", "duckdb-first")(pairOrder),
      s"SPARK_GRAFT_PAIR_ORDER must be spark-first|duckdb-first, got '$pairOrder'")
    if (doPair && pairOrder == "duckdb-first") runPairing(sfDir, outPath)

    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    // Untimed warmup: the first action pays JVM/codegen/classloading costs
    // (~5 s) that would otherwise be attributed to an arbitrary query. The
    // second, SYNTHETIC query (spark.range — touches no bench table and no
    // registered plan) additionally class-loads the machinery the entry
    // query misses, which round-6's driver run showed spiking individual
    // first-touch queries: the gzip/Deflater path (f5 read 18.3 s cold),
    // shuffle exchange + noop-write commit classes. Warming CLASSES, not
    // timed queries, per the round-6 verdict's explicit line.
    // A warm step failing must be VISIBLE (stderr) even though it never
    // fails the run: a silently-broken warmDerived would shift one-time
    // model/fixture materialization into whichever timed query touches it
    // first, and the spike would read as a query regression.
    def warm(name: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] warmup '$name' failed: ${e.getMessage}")
      }
    warm("entry")(SparkEntry.entry(spark).count(): Unit)
    warm("classes") {
      import org.apache.spark.sql.functions._
      spark.range(256)
        .select(col("id"), graft.functions.Scalars.gunzip(
          graft.functions.Scalars.gzip(concat(lit("warm"), col("id")).cast("binary"))).as("rt"),
          sha2(concat(lit("w"), col("id")), 256).as("h"))
        .groupBy(length(col("rt")).as("k")).agg(count(lit(1)).as("n"), max(col("h")))
        .write.format("noop").mode("overwrite").save()
    }
    // Session setup, untimed: build the persisted fixture / derived-table
    // caches here so their one-time materialization doesn't land inside
    // whichever alphabetically-first query touches each (a1 was absorbing
    // the outbox build; the reference's equivalents are simply tables
    // that exist before any query runs).
    warm("fixtures")(QueriesCore.warmFixtures(spark, sfDir))
    warm("derived")(QueriesLlm.warmDerived(spark, sfDir))

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (selected.isEmpty)
      errors("_selection") = s"SPARK_GRAFT_ONLY matched zero registered queries: ${only.getOrElse(Set.empty).mkString(",")}"
    val named = (1 to repeat).flatMap(r => selected.map { case (n, f) =>
      (if (repeat > 1) s"$n#$r" else n, f)
    })
    // Per-query best-of-N (opt-in, SPARK_GRAFT_BEST_OF=2): one co-tenant
    // spike on one query can distort a full-run artifact (r16 pair 8:
    // p7_pause_filter 1.16 s vs 0.39 s on the rerun, same code). Extra
    // passes reuse the warmed session; the headline map takes the
    // per-query MIN across passes (the capability number the pairing
    // doctrine already used manually, r15 rule f) and the artifact keeps
    // every raw pass in `queries_passes` so nothing is hidden.
    val bestOf = sys.env.getOrElse("SPARK_GRAFT_BEST_OF", "1").toInt.max(1)
    val passTimings =
      Seq.fill(bestOf)(scala.collection.mutable.LinkedHashMap[String, Double]())
    (0 until bestOf).foreach { p =>
      named.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          // Small scan-dominated queries execute without AQE/codegen — the
          // fixed floor dominates them and never amortizes (ExecPolicy).
          graft.runtime.ExecPolicy.run(fn(spark, sfDir))(
            _.write.format("noop").mode("overwrite").save())
          passTimings(p)(name) = (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            val key = if (bestOf > 1) s"$name#p${p + 1}" else name
            errors(key) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
    }
    named.foreach { case (name, _) =>
      val vs = passTimings.flatMap(_.get(name))
      if (vs.nonEmpty) timings(name) = vs.min
    }
    // Diagnostic (stderr, stdout contract untouched): how much of the run
    // was Janino compilation — the per-DISTINCT-plan cold-codegen floor.
    // METRIC_COMPILATION_TIME is a Codahale histogram over an
    // exponentially-decaying ~1028-sample reservoir, so a raw
    // getValues.sum UNDERREPORTS past ~1k compiles (r15 review); report
    // count × sampled mean as the estimate, labeled as such.
    locally {
      val m = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      System.err.println(f"[bench] janino: ${m.getCount} compiles, " +
        f"~${m.getCount * m.getSnapshot.getMean / 1000.0}%.1f s estimated total " +
        "(count x reservoir-sampled mean)")
    }
    val esc = Harness.jsonEscape _
    val qs = timings.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":"${esc(sfDir)}"}"""
    // Stop Spark BEFORE the DuckDB pairing pass below — the denominator
    // should not time against a still-active executor JVM.
    spark.stop()
    // Persist the complete artifact (the driver captures only a stdout TAIL
    // of ~2000 chars — truncates ~40% of the per-query map at 100+ queries).
    // A pre-existing artifact's DuckDB pairing keys are carried over so a
    // Spark-only rerun doesn't destroy the only per-query ratio record, but
    // the carry-over is now LABELED (`duckdb_carried_over: true`) and
    // stamped: r14/r15 shipped over-bar artifacts (2.68x, 2.85x) minted from
    // a load-spiked Spark rerun over a stale quiet-window denominator, and
    // nothing in the artifact made the staleness machine-visible.
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val merged = mapper.readTree(line).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      merged.put("spark_run_at", java.time.Instant.now().toString)
      if (bestOf > 1) {
        // Raw per-pass timings behind the best-of headline: `queries` above
        // holds the per-query MIN; every pass stays auditable here.
        val passes = mapper.createArrayNode()
        passTimings.foreach { pm =>
          val o = mapper.createObjectNode()
          pm.foreach { case (k, v) => o.put(k, v) }
          passes.add(o)
        }
        merged.set[com.fasterxml.jackson.databind.JsonNode]("queries_passes", passes)
        merged.put("best_of", bestOf)
      }
      val p = java.nio.file.Paths.get(outPath)
      if (java.nio.file.Files.exists(p)) {
        try {
          val old = mapper.readTree(java.nio.file.Files.readString(p))
          val carried = Seq("duckdb", "duckdb_total", "duckdb_errors",
            "worst_ratios", "duckdb_paired_at", "duckdb_sf").filter { k =>
            if (old.has(k) && !merged.has(k)) { merged.set[com.fasterxml.jackson.databind.JsonNode](k, old.get(k)); true }
            else false
          }
          // "Carried over" means from a PREVIOUS window: a denominator the
          // duckdb-first order wrote moments ago (stamp after this process
          // started) is same-window and must not be labeled stale.
          val freshOld = old.has("duckdb_paired_at") &&
            (try java.time.Instant.parse(old.get("duckdb_paired_at").asText)
              .isAfter(procStart)
            catch { case _: Exception => false })
          if (carried.nonEmpty) merged.put("duckdb_carried_over", !freshOld)
        } catch { case _: Exception => () } // unreadable old artifact: plain overwrite
      }
      // Recompute worst_ratios from the two maps now in THIS artifact —
      // under duckdb-first the script computed them before the Spark side
      // existed (stale/empty), and under carry-over they describe an old
      // Spark pass.
      if (merged.has("queries") && merged.has("duckdb")) {
        val qn = merged.get("queries"); val dn = merged.get("duckdb")
        val ratios = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double)]()
        qn.fieldNames().forEachRemaining { k =>
          if (dn.has(k) && dn.get(k).asDouble > 0)
            ratios += ((k, qn.get(k).asDouble / dn.get(k).asDouble,
              qn.get(k).asDouble, dn.get(k).asDouble))
        }
        val arr = mapper.createArrayNode()
        ratios.sortBy(-_._2).take(5).foreach { case (k, r, s, d) =>
          val o = mapper.createObjectNode()
          o.put("query", k); o.put("spark_over_duckdb", math.rint(r * 100) / 100)
          o.put("spark_sec", math.rint(s * 1000) / 1000)
          o.put("duckdb_sec", math.rint(d * 1000) / 1000)
          arr.add(o)
        }
        merged.set[com.fasterxml.jackson.databind.JsonNode]("worst_ratios", arr)
      }
      java.nio.file.Files.writeString(p, mapper.writeValueAsString(merged) + "\n")
    } catch { case e: Exception => System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }

    // Same-window pairing (r15 verdict, top task): a full-registry run pairs
    // its OWN DuckDB denominator by invoking tools/bench_duckdb.py in the
    // same machine-load window as the Spark pass — after it (default) or
    // before any Spark work (duckdb-first, already ran above). The script
    // rewrites the artifact with per-query duckdb times, duckdb_total,
    // worst_ratios, a duckdb_paired_at stamp, and duckdb_carried_over=false.
    // Subset runs never pair (their Spark side isn't the full registry);
    // SPARK_GRAFT_NO_PAIR=1 opts out for quick local full runs. A missing
    // script or a non-zero exit leaves the labeled carry-over as the
    // documented fallback.
    if (doPair && pairOrder == "spark-first") runPairing(sfDir, outPath)

    // Read the pairing result back for the stdout contract lines.
    val (duckTotal, carriedOver) = try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(outPath)))
      (if (node.has("duckdb_total")) Some(node.get("duckdb_total").asDouble) else None,
        node.has("duckdb_carried_over") && node.get("duckdb_carried_over").asBoolean)
    } catch { case _: Exception => (None, false) }
    val pairJson = duckTotal.map { d =>
      val ratio = if (d > 0) total / d else -1.0
      s""","duckdb_total":$d,"ratio":${f3(ratio)},"duckdb_carried_over":$carriedOver"""
    }.getOrElse("")

    println(line)
    // The driver captures only a stdout TAIL (~2000 chars). At 114 queries
    // the full line is ~6 KB, so its head — `{"metric":...` — falls outside
    // the tail and the driver records `parsed: null` (round-7 verdict,
    // housekeeping). Emit a LAST line guaranteed to fit the tail window:
    // same shape, but `queries` holds only the slowest entries that fit a
    // byte budget, with a count of omitted entries and a pointer to the
    // complete artifact. Whether the driver takes the last line or greps
    // the tail for `{"metric"`, this line is the one that parses.
    val budget = 1400
    val slowestFirst = timings.toSeq.sortBy(-_._2)
    val sb = new StringBuilder
    var kept = 0
    slowestFirst.foreach { case (k, v) =>
      val entry = s""""${esc(k)}":${f3(v)}"""
      if (sb.length + entry.length + 1 <= budget) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(entry); kept += 1
      }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":{${sb.toString}},""" +
      s""""queries_omitted":${timings.size - kept},"errors":$es,"sf":"${esc(sfDir)}"$pairJson,"full":"$outPath"}""")
  }
}
