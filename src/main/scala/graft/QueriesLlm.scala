package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import QHelpers._

/** Training-data-pipeline operators (dedup, similarity, text analysis,
  * multimodal) and the TPC-H-style analytic queries used as bench headliners.
  *
  * Portability notes: all hashes route through sha256 (identical hex in
  * DuckDB); MinHash permutations are int64 arithmetic mod 2^31-1; embedding
  * scores use quantized int64 dot products — every ranking below is
  * bit-exact in both engines.
  */
object QueriesLlm {

  /** Shared DuckDB fragment: normalized text + token list per document. */
  private val normDocsCte =
    """norm_docs AS (
      |  SELECT doc_id, text,
      |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
      |              ' +', ' ', 'g')) AS norm
      |  FROM documents),
      |tok_docs AS (
      |  SELECT doc_id, text, norm,
      |         CASE WHEN length(norm) = 0 THEN [] ELSE string_split(norm, ' ') END AS toks
      |  FROM norm_docs)""".stripMargin

  /** DuckDB 60-bit portable hash of an expression. */
  private def h60(x: String): String =
    s"CAST('0x' || substr(sha256($x), 1, 15) AS BIGINT)"

  /** The registrable-domain link graph behind llm_domain_pagerank and its
    * forced-distributed twin: doc i's page links to the domain of the URL
    * the fixture would mint for id 31·i+7 (gcd(31,97)=1, so targets sweep
    * the domain alphabet; at sf0.01 some domains are dst-only → genuinely
    * dangling nodes at the gate). Both ends go through the real parse
    * pipeline (urlExpr → normalizeUrls → registrable_domain). */
  /** Bench-warmup hook (see QueriesCore.warmFixtures): materialize the
    * persisted link graph outside the timed per-query window. */
  def warmDerived(s: SparkSession, d: String): Unit = {
    domainLinkGraph(s, d).count()
    // Warm the session-memoized trained models the ann family serves from
    // (Similarity.modelCache / Classify.centroidCache): training is
    // deterministic and each artifact is shared by 2+ registered queries
    // (ivf_kmeans + ivf_persisted; pq_trained's codebook; centroid_model +
    // centroid_confusion), so the one-time fit belongs in session setup —
    // the reference's equivalent is a model loaded from disk, not
    // retrained per query (r15 rule a, extended to models in r16).
    val emb = Tables.embeddings(s, d)
    Similarity.kmeansCentroidArrays(emb, k = 4, iterations = 1)
    Similarity.pqCodebookArrays(emb)
    Classify.centroidModel(emb, 700, "cent").count()
    coEdges(s, d).count()
    val docs = Tables.documents(s, d)
    Bpe.train(docs, "text", BpeTrainRounds)
    Classify.fitTokenClassifier(docs, "doc_id", "text", "lang", 700, "cls")
      .weightsLong.count(): Unit
  }

  // Session-persisted co-purchase fixtures, the domainLinkGraph pattern:
  // the basket table and its support-2 backbone feed FOUR registered
  // queries (graph_triangles/components/degrees/assoc_rules), each of
  // which previously re-scanned lineitem and re-aggregated baskets.
  private val coBasketCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val coEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def coBaskets(s: SparkSession, d: String): DataFrame = {
    Tables.sweepStopped(coBasketCache, (_: (SparkSession, String))._1)
    coBasketCache.computeIfAbsent((s, d), _ =>
      GraphOps.basketTable(Tables.lineitem(s, d), "l_orderkey", "l_partkey")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }
  private def coEdges(s: SparkSession, d: String): DataFrame = {
    Tables.sweepStopped(coEdgeCache, (_: (SparkSession, String))._1)
    coEdgeCache.computeIfAbsent((s, d), _ =>
      GraphOps.edgesFromBaskets(coBaskets(s, d), minSupport = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private val linkGraphCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def domainLinkGraph(s: SparkSession, d: String): DataFrame = {
    // Memoized + persisted across the two pagerank rows (driver-path and
    // forced-distributed) like the QueriesCore control fixtures: a real
    // pipeline materializes its link graph once per crawl snapshot, and
    // the REAL parse still runs — once — so the gate value (both ends
    // through urlExpr → normalizeUrls → registrable_domain) is intact;
    // llm_url_normalize pins the parse on its own uncached scan besides.
    Tables.sweepStopped(linkGraphCache, (_: (SparkSession, String))._1)
    linkGraphCache.computeIfAbsent((s, d), _ => {
      val docs = Tables.documents(s, d)
      val fx = graft.fixtures.Fixtures
      val src = UrlOps.normalizeUrls(
          docs.select(col("doc_id"), fx.urlExpr(col("doc_id")).as("url")), "url")
        .select(col("doc_id"), col("registrable_domain").as("src_domain"))
      val dst = UrlOps.normalizeUrls(
          docs.select(col("doc_id"),
            fx.urlExpr(col("doc_id") * 31 + 7).as("url")), "url")
        .select(col("doc_id"), col("registrable_domain").as("dst_domain"))
      src.join(dst, "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Oracle for both pagerank rows: the closed-form domain derivation
    * ('site'||id%97||'.'||tld[id%7+1] — parse equivalence pinned verbatim
    * by llm_url_normalize) and `rounds` chained MATERIALIZED CTE rounds
    * (the ev_pagerank template; each r_i referenced twice → r9-s2 rule a)
    * of the same truncating-integer power iteration both engine paths
    * run. The driver-path row replays the full 8 production rounds; the
    * forced-distributed row replays 2 — each round is the identical
    * formula, so 2 rounds pin the distributed engine-vs-oracle arithmetic
    * exactly as well, and the 8-round distributed output is already
    * pinned transitively (GraphOpsSpec: driver ≡ distributed bit-exact at
    * iters = 8) without paying 6 more rounds of per-round job floor on a
    * 679-node gate graph whose real cost profile (10⁸ nodes) the local
    * bench cannot represent anyway. */
  private def domainPagerankOracle(rounds: Int): String = {
    val tld = "(['com','org','co.uk','de','com.au','io','ac.uk'])"
    def rd(idSql: String) =
      s"'site' || CAST($idSql % 97 AS VARCHAR) || '.' || $tld[CAST($idSql % 7 + 1 AS INTEGER)]"
    val prelude = Seq(
      s"""predges AS MATERIALIZED (
        |  SELECT ${rd("doc_id")} AS from_type,
        |         ${rd("(doc_id * 31 + 7)")} AS to_type
        |  FROM documents)""".stripMargin,
      """prtr AS MATERIALIZED (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM predges GROUP BY 1, 2)""".stripMargin,
      """prnodes AS MATERIALIZED (
        |  SELECT DISTINCT node FROM (
        |    SELECT from_type AS node FROM predges
        |    UNION ALL SELECT to_type FROM predges))""".stripMargin,
      "prn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM prnodes)",
      """proutdeg AS MATERIALIZED (
        |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS outc
        |  FROM prtr GROUP BY 1)""".stripMargin,
      """prp AS MATERIALIZED (
        |  SELECT t.from_type, t.to_type, t.cnt * 1000000 // o.outc AS p_ppm
        |  FROM prtr t JOIN proutdeg o USING (from_type))""".stripMargin,
      """r0 AS MATERIALIZED (
        |  SELECT node, 1000000 // prn.n AS r FROM prnodes CROSS JOIN prn)""".stripMargin)
    val roundCtes = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (
        |  SELECT nd.node,
        |         (150000000000 // prn.n
        |          + 850000 * (coalesce(c.contrib, 0) + d.dang // prn.n))
        |           // 1000000 AS r
        |  FROM prnodes nd
        |  CROSS JOIN prn
        |  LEFT JOIN (
        |    SELECT p.to_type AS node,
        |           CAST(sum(r.r * p.p_ppm // 1000000) AS BIGINT) AS contrib
        |    FROM r${i - 1} r JOIN prp p ON p.from_type = r.node
        |    GROUP BY 1) c ON c.node = nd.node
        |  CROSS JOIN (
        |    SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang
        |    FROM r${i - 1} r LEFT JOIN proutdeg o ON o.from_type = r.node
        |    WHERE o.from_type IS NULL) d)""".stripMargin
    }
    withCtes(prelude ++ roundCtes: _*)(
      s"SELECT node, r AS rank_ppm FROM r$rounds")
  }

  /** Deterministic synthetic PII injection (the corpus has none): one
    * class per co-prime doc_id residue, so multi-class documents exist at
    * small sf (77, 91, 133, …) without any single pair saturating — the
    * density gate in llm_curation_report needs both sides. Mirrored
    * verbatim in [[piiRawCte]]; keep the two in lock-step. */
  private def piiRaw(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" from 192.168."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 200 + 1).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 19 === 0,
        concat(lit(" at 2001:db8:85a3:0:0:8a2e:370:"),
          (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 23 === 0,
        concat(lit(" pay DE"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("5001051754073249"))).otherwise(lit("")),
      when(col("doc_id") % 29 === 0,
        concat(lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("raw_text"))

  /** Mirrors [[piiRaw]]. */
  private val piiRawCte: String =
    """pii_raw AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0 THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 + 1 AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 19 = 0 THEN ' at 2001:db8:85a3:0:0:8a2e:370:' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 23 = 0 THEN ' pay DE' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '5001051754073249' ELSE '' END ||
      |    CASE WHEN doc_id % 29 = 0 THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS raw_text
      |  FROM documents)""".stripMargin

  /** DuckDB shingle-hash lists (mirrors DedupOps.shingleHashRows: hash of
    * the 3-token shingle string; whole-normalized-text hash fallback for
    * documents under 3 tokens). */
  private val shinglesCte = {
    val p = DedupOps.MersennePrime31
    s"""shingle_docs AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 3
      |              THEN list_transform(range(len(toks) - 2),
      |                     i -> ${h60("toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]")} % $p)
      |              ELSE [${h60("norm")} % $p] END AS shingles
      |  FROM tok_docs)""".stripMargin
  }

  /** Shared by llm_decontam and its forced-shuffle twin llm_decontam_hash:
    * the join strategy must never change the result, so both check against
    * the identical SQL. */
  private val decontamOracleSql: String = "WITH " +
    Seq(normDocsCte, shinglesCte).mkString(",\n") + """,
      |b AS (
      |  SELECT doc_id, shingles,
      |         CAST('0x' || substr(sha256('contam:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS bucket
      |  FROM shingle_docs),
      |tr0 AS (SELECT doc_id, unnest(shingles) AS h FROM b WHERE bucket >= 100),
      |te0 AS (SELECT unnest(shingles) AS h FROM b WHERE bucket < 100),
      |trd AS (SELECT DISTINCT doc_id, h FROM tr0),
      |ted AS (SELECT DISTINCT h FROM te0)
      |SELECT trd.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_shingles,
      |       CAST(sum(CASE WHEN ted.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |       CAST(sum(CASE WHEN ted.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |            // count(*) AS BIGINT) AS overlap_ppm,
      |       sum(CASE WHEN ted.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |            // count(*) >= 500000 AS contaminated
      |FROM trd LEFT JOIN ted USING (h)
      |GROUP BY 1""".stripMargin

  /** Shared language-ID oracle fragments (mirror TextOps.langScoresFromToks
    * / predictedLangFromToks): per-language marker-hit counts, and the
    * tie-to-lexicographically-largest CASE chain (greatest(struct)
    * semantics on the Spark side). Used by llm_langid and its confusion
    * rollup. */
  private val langScoredCte: String = {
    val markers = TextOps.LangMarkers.toSeq.sortBy(_._1)
    val scoreCols = markers.map { case (lang, words) =>
      s"CAST(len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS s_$lang"
    }.mkString(",\n         ")
    s"""scored AS (
      |  SELECT doc_id,
      |         $scoreCols
      |  FROM tok_docs)""".stripMargin
  }

  private val langCaseChain: String = {
    val langs = TextOps.LangMarkers.keys.toSeq.sorted
    langs.reverse.map { l =>
      val others = langs.filter(_ != l)
      s"WHEN s_$l >= greatest(${others.map("s_" + _).mkString(",")}) THEN '$l'"
    }.mkString(" ")
  }

  /** DuckDB minhash signature columns sig_0..sig_7 (mirrors
    * DedupOps.minhashSignature with permParams(8)). */
  private val sigSelect: String = {
    val p = DedupOps.MersennePrime31
    DedupOps.permParams(8).zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(shingles, h -> ($a * h + $b) % $p)) AS sig_$j"
    }.mkString(",\n       ")
  }

  private val sigCte =
    s"""sig_docs AS (
      |  SELECT doc_id,
      |       $sigSelect
      |  FROM shingle_docs)""".stripMargin

  /** DuckDB LSH band/bucket rows (mirrors DedupOps.lshBuckets: 4 bands × 2
    * rows). */
  private val bucketCte =
    """bucket_docs AS (
      |  SELECT doc_id, 0 AS band, CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR) AS bucket FROM sig_docs
      |  UNION ALL
      |  SELECT doc_id, 1, CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR) FROM sig_docs
      |  UNION ALL
      |  SELECT doc_id, 2, CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR) FROM sig_docs
      |  UNION ALL
      |  SELECT doc_id, 3, CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR) FROM sig_docs)""".stripMargin

  private val pairsCte =
    // The ok_buckets filter replays the maxBucket = 1000 mega-bucket drop
    // BOTH Spark pair builders apply (candidatePairs AND bucketStarEdges —
    // identical drop semantics, so capped all-pairs closure and capped star
    // edges still agree on components). Before r19 the oracle was uncapped
    // and only agreed because no uniform fixture ever grew a bucket past
    // the cap; the skewed decade's 2,000-doc dup clique exposed it (and
    // 5×10⁷ oracle-side pairs with it — found by the skew fixture doing
    // its job).
    """ok_buckets AS (
      |  SELECT band, bucket FROM bucket_docs GROUP BY 1, 2
      |  HAVING count(*) > 1 AND count(*) <= 1000),
      |pair_docs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bucket_docs a JOIN bucket_docs b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  JOIN ok_buckets o ON o.band = a.band AND o.bucket = a.bucket)""".stripMargin

  /** Shared Spark-side collision graph for both CC algorithms — ONE
    * definition so the two variants can never silently cluster different
    * graphs while sharing one oracle. */
  private def lshStarPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    DedupOps.bucketStarEdges(
      DedupOps.lshBuckets(
        DedupOps.minhashSignature(Tables.documents(s, d), "doc_id", "text", 8),
        "doc_id"),
      "doc_id")

  /** Shared oracle for both CC algorithms: DuckDB RECURSIVE transitive
    * closure over the ALL-PAIRS collision graph — a third, independent
    * algorithm that must agree with min-label propagation AND star
    * contraction on every component. */
  private val clustersOracleSql: String =
    "WITH RECURSIVE " +
      Seq(normDocsCte, shinglesCte, sigCte, bucketCte, pairsCte).mkString(",\n") + ",\n" +
      """edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pair_docs
        |  UNION SELECT id_b, id_a FROM pair_docs),
        |reach(node, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)
        |SELECT node AS doc_id, min(label) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin

  def text: Seq[Q] = Seq(
    Q("llm_token_count",
      (s, d) => {
        // Materialized norm/tokens: tokenCount + approxBpeCount would
        // otherwise re-inline the normalize chain ~4x per row.
        val based = TextOps.withNormToks(Tables.documents(s, d), "text")
        val nTokens = when(length(col("_norm")) === 0, 0)
          .otherwise(size(col("_toks"))).cast("long")
        based.select(col("doc_id"), nTokens.as("n_tokens"),
          greatest(nTokens, ceil(length(col("text")) / 4.0).cast("long")).as("n_bpe"))
      },
      Some(withCtes(normDocsCte)(
        """SELECT doc_id,
          |       CAST(len(toks) AS BIGINT) AS n_tokens,
          |       CAST(greatest(len(toks), CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS n_bpe
          |FROM tok_docs""".stripMargin))),

    Q("llm_quality",
      (s, d) => TextOps.qualityFeatures(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("n_chars_m").cast("long").as("n_chars_m"),
          col("n_words").cast("long").as("n_words"),
          col("punct_chars").cast("long").as("punct_chars"),
          col("stop_words").cast("long").as("stop_words"),
          col("mean_word_len"), col("stop_ratio")),
      Some(withCtes(normDocsCte)(
        s"""SELECT doc_id,
          |       CAST(length(text) AS BIGINT) AS n_chars_m,
          |       CAST(len(toks) AS BIGINT) AS n_words,
          |       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT)
          |         AS punct_chars,
          |       CAST(len(list_filter(toks, t -> t IN (${TextOps.Stopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT)
          |         AS stop_words,
          |       CASE WHEN len(toks) > 0
          |            THEN CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks) END AS mean_word_len,
          |       CASE WHEN len(toks) > 0
          |            THEN CAST(len(list_filter(toks, t -> t IN (${TextOps.Stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(toks) END
          |         AS stop_ratio
          |FROM tok_docs""".stripMargin))),

    Q("llm_unicode_clean",
      // Unicode hygiene before hashing: strip zero-width chars, NFC-
      // compose via the native nfc_normalize expression (mirrors DuckDB's
      // builtin of the same name). Map-only; the synthetic corpus is
      // ASCII so every row reports unchanged — the gate checks the
      // PLUMBING (lengths, flags, pass-through text); the unicode
      // semantics are spec-pinned on planted composed/decomposed docs.
      (s, d) => TextOps.unicodeClean(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""SELECT doc_id,
        |       nfc_normalize(regexp_replace(text, '${TextOps.ZeroWidthPattern}', '', 'g')) AS cleaned_text,
        |       CAST(length(text) - length(regexp_replace(text, '${TextOps.ZeroWidthPattern}', '', 'g')) AS BIGINT) AS n_zero_width,
        |       CAST(length(text) AS BIGINT) AS len_before,
        |       CAST(length(nfc_normalize(regexp_replace(text, '${TextOps.ZeroWidthPattern}', '', 'g'))) AS BIGINT) AS len_after,
        |       nfc_normalize(regexp_replace(text, '${TextOps.ZeroWidthPattern}', '', 'g')) <> text AS changed
        |FROM documents""".stripMargin)),

    Q("llm_gopher_rules",
      // The published Gopher/MassiveText document-quality rule set (Rae et
      // al. 2021 A1.1) as integer-ppm metrics + per-rule flags — the
      // standard pre-training admission filter. Row-local single pass;
      // words/lines/tokens materialized once behind Generate barriers.
      (s, d) => TextOps.gopherRules(Tables.documents(s, d), "doc_id", "text"),
      Some(withCtes(normDocsCte,
        """gw AS (
          |  SELECT doc_id, toks, text,
          |         CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
          |              THEN CAST([] AS VARCHAR[])
          |              ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS words,
          |         string_split(text, chr(10)) AS lines
          |  FROM tok_docs)""".stripMargin,
        s"""gm AS (
          |  SELECT doc_id,
          |         CAST(len(words) AS BIGINT) AS n_words,
          |         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
          |         CAST(length(text) - length(replace(text, '#', ''))
          |              + (length(text) - length(replace(text, '...', ''))) // 3
          |              + length(text) - length(replace(text, '…', '')) AS BIGINT) AS n_symbols,
          |         CAST(len(lines) AS BIGINT) AS n_lines,
          |         CAST(len(list_filter(lines, l -> list_contains(['-','*','•'], substr(ltrim(l), 1, 1)))) AS BIGINT) AS n_bullet,
          |         CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS BIGINT) AS n_ell,
          |         CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
          |         CAST(len(list_intersect(list_distinct(toks),
          |              [${TextOps.GopherStopwords.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS n_stop_hits
          |  FROM gw)""".stripMargin,
        """gp AS (
          |  SELECT doc_id, n_words, word_chars,
          |         CAST(n_symbols * 1000000 // greatest(n_words, 1) AS BIGINT) AS symbol_ppm,
          |         CAST(n_bullet * 1000000 // n_lines AS BIGINT) AS bullet_line_ppm,
          |         CAST(n_ell * 1000000 // n_lines AS BIGINT) AS ellipsis_line_ppm,
          |         CAST(n_alpha * 1000000 // greatest(n_words, 1) AS BIGINT) AS alpha_word_ppm,
          |         n_stop_hits
          |  FROM gm)""".stripMargin)(
        """SELECT doc_id, n_words, word_chars, symbol_ppm, bullet_line_ppm,
          |       ellipsis_line_ppm, alpha_word_ppm, n_stop_hits,
          |       n_words BETWEEN 50 AND 100000 AS r_word_count,
          |       n_words > 0 AND word_chars BETWEEN n_words * 3 AND n_words * 10 AS r_mean_word_len,
          |       symbol_ppm <= 100000 AS r_symbol,
          |       bullet_line_ppm < 900000 AS r_bullet,
          |       ellipsis_line_ppm < 300000 AS r_ellipsis,
          |       alpha_word_ppm >= 800000 AS r_alpha,
          |       n_stop_hits >= 2 AS r_stopwords,
          |       (n_words BETWEEN 50 AND 100000)
          |         AND (n_words > 0 AND word_chars BETWEEN n_words * 3 AND n_words * 10)
          |         AND symbol_ppm <= 100000 AND bullet_line_ppm < 900000
          |         AND ellipsis_line_ppm < 300000 AND alpha_word_ppm >= 800000
          |         AND n_stop_hits >= 2 AS passes
          |FROM gp""".stripMargin))),

    Q("llm_url_normalize",
      // Crawl-side URL curation (C4 §2.2 dedups/filters BY URL before any
      // text pass): canonical URL (lowercase scheme/host, userinfo +
      // fragment + default-port + tracking-param strip), eTLD+1 under the
      // suffix-list-lite, and a blocklist flag via a broadcast join (a
      // production ~1M-domain blocklist rides the same shape). Map-only
      // regex passes per row — no shuffle at any corpus size; the oracle
      // replays every parse step verbatim (all patterns RE2-safe).
      (s, d) => {
        import s.implicits._
        val urls = graft.fixtures.Fixtures.urlDocs(Tables.documents(s, d))
        val norm = UrlOps.normalizeUrls(urls, "url")
        UrlOps.blockedFlag(norm, "registrable_domain",
            UrlOps.DemoBlocklist.toDF("domain"))
          .select(col("doc_id"), col("url"), col("url_norm"), col("host"),
            col("registrable_domain"), col("blocked"))
      },
      Some(withCtes(OracleCtes.urls, OracleCtes.urlParsed, OracleCtes.urlNormalized)(
        s"""SELECT doc_id, url, url_norm, host, rd AS registrable_domain,
          |       rd IN (${UrlOps.DemoBlocklist.map(x => s"'$x'").mkString(", ")}) AS blocked
          |FROM url_norm_t""".stripMargin))),

    Q("llm_domain_rollup",
      // Per-registrable-domain curation rollup: docs, tokens, and a KMV
      // distinct-content estimate in ONE domain-keyed aggregation (k-long
      // sketch state, never a corpus count-distinct); dup_factor_ppm is
      // the template-farm signal FineWeb-class pipelines threshold on.
      // Group count is bounded by the web's domain count, far below rows.
      (s, d) => {
        val urls = graft.fixtures.Fixtures.urlDocs(Tables.documents(s, d))
        val withRd = UrlOps.normalizeUrls(urls, "url")
          .select(col("registrable_domain"), col("text"))
        UrlOps.domainRollup(withRd, "registrable_domain", "text", k = 64)
      },
      Some(withCtes(OracleCtes.urls, OracleCtes.urlParsed, normDocsCte,
        """url_roll AS (
          |  SELECT p.rd, count(*) AS n_docs, sum(len(t.toks)) AS n_tokens
          |  FROM url_parsed p JOIN tok_docs t USING (doc_id) GROUP BY 1)""".stripMargin,
        """url_h AS (
          |  SELECT DISTINCT p.rd,
          |         CAST('0x' || substr(sha256(d.text), 1, 15) AS BIGINT) AS hh
          |  FROM url_parsed p JOIN documents d USING (doc_id))""".stripMargin,
        """url_r AS (
          |  SELECT rd, hh, row_number() OVER (PARTITION BY rd ORDER BY hh) AS rn,
          |         count(*) OVER (PARTITION BY rd) AS nh
          |  FROM url_h)""".stripMargin)(
        """SELECT registrable_domain, n_docs, n_tokens, n_mins, distinct_content_est,
          |       CAST(n_docs * 1000000 // distinct_content_est AS BIGINT) AS dup_factor_ppm
          |FROM (
          |  SELECT g.rd AS registrable_domain,
          |         CAST(r.n_docs AS BIGINT) AS n_docs,
          |         CAST(r.n_tokens AS BIGINT) AS n_tokens,
          |         CAST(least(g.nh, 64) AS BIGINT) AS n_mins,
          |         CAST(CASE WHEN g.nh < 64 THEN g.nh
          |                   ELSE 1152921504606846976 // greatest(k.kth // 63, 1) END AS BIGINT)
          |           AS distinct_content_est
          |  FROM (SELECT rd, max(nh) AS nh FROM url_r GROUP BY 1) g
          |  JOIN url_roll r USING (rd)
          |  LEFT JOIN (SELECT rd, hh AS kth FROM url_r WHERE rn = 64) k
          |    USING (rd))""".stripMargin))),

    Q("llm_url_dedup",
      // URL-level exact dedup — the FIRST crawl dedup stage (recrawls and
      // tracking-param variants of one canonical URL collapse before any
      // text pass): hash groupBy on url_norm, electing the longest text
      // (ties → smallest id) via the zero-padded string key that keeps
      // map-side partials in BOTH engines. URLs are synthesized from the
      // COARSE residue doc_id % 125 (Fixtures.urlExpr), so every canonical
      // URL collects ~N/125 distinct documents and the election branch is
      // exercised by the gate at every sf (the per-doc fixture would give
      // all-singleton groups — n_dups ≡ 1 pins nothing).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val urls = docs.select(col("doc_id"), col("text"),
          graft.fixtures.Fixtures.urlExpr(col("doc_id") % 125).as("url"))
        UrlOps.urlDedup(UrlOps.normalizeUrls(urls, "url"),
          "url_norm", "doc_id", "text")
      },
      Some(withCtes(OracleCtes.urlsFrom("(doc_id % 125)"), OracleCtes.urlParsed,
          OracleCtes.urlNormalized)(
        """SELECT n.url_norm, CAST(count(*) AS BIGINT) AS n_dups,
          |       max_by(n.doc_id,
          |              lpad(CAST(length(d.text) AS VARCHAR), 9, '0')
          |                || lpad(CAST(9999999999999 - n.doc_id AS VARCHAR), 13, '0'))
          |         AS kept_doc_id,
          |       CAST(max(length(d.text)) AS BIGINT) AS kept_len
          |FROM url_norm_t n JOIN documents d USING (doc_id)
          |GROUP BY 1""".stripMargin))),

    Q("llm_crawl_schedule",
      // Politeness-scheduled crawl frontier: per-domain URL cap (4) +
      // 5-second fetch spacing from the fixed reference instant. The slot
      // assignment is the BOUNDED topk_pairs aggregate (k pairs of state
      // per domain, map-side combined, skew-free) — the oracle replays the
      // equivalent row_number window, so the two engines cross-check each
      // other's strategy (the repo's funnel/budget pattern).
      (s, d) => {
        val urls = graft.fixtures.Fixtures.urlDocs(Tables.documents(s, d))
        UrlOps.crawlSchedule(
          UrlOps.normalizeUrls(urls, "url").select(
            col("registrable_domain"), col("doc_id")),
          "registrable_domain", "doc_id",
          startTs = graft.fixtures.Fixtures.RefNow,
          maxPerDomain = 4, delaySec = 5)
      },
      Some(withCtes(OracleCtes.urls, OracleCtes.urlParsed,
        """ranked AS (
          |  SELECT rd, doc_id,
          |         row_number() OVER (PARTITION BY rd ORDER BY doc_id) - 1 AS slot,
          |         count(*) OVER (PARTITION BY rd) AS n_urls
          |  FROM url_parsed)""".stripMargin)(
        s"""SELECT rd AS registrable_domain, CAST(n_urls AS BIGINT) AS n_urls,
          |       CAST(greatest(n_urls - 4, 0) AS BIGINT) AS n_dropped,
          |       doc_id, CAST(slot AS BIGINT) AS slot,
          |       CAST(slot * 5 AS BIGINT) AS sched_s,
          |       CAST(TIMESTAMP '${graft.fixtures.Fixtures.RefNow}'
          |              + to_seconds(CAST(slot * 5 AS BIGINT)) AS VARCHAR)
          |         AS scheduled_at
          |FROM ranked WHERE slot < 4""".stripMargin))),

    Q("llm_robots_filter",
      // Robots-style longest-prefix path exclusion over the parsed URL
      // table — the crawl-side politeness/compliance gate that runs with
      // the blocklist, before any text decode. URLs ride the COARSE
      // doc_id % 125 residue (r13 rule e) so the DemoRobots domains and
      // paths genuinely collide with the corpus at every sf: site17.de
      // /p/17 exercises the longest-allow override (3 rules matched),
      // site12.io /p/12 the longer-deny-beats-root-allow branch,
      // site4.com.au /p/4 the allow-on-tie pair, site7.com the
      // whole-domain deny, and the other ~120 domains the no-rule
      // default-allow. The winner election is the zero-padded
      // (prefix length, allow-bit) string key under max_by/arg_max —
      // map-side partials in both engines (r13 rule a).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val urls = docs.select(col("doc_id"),
          graft.fixtures.Fixtures.urlExpr(col("doc_id") % 125).as("url"))
        val parsed = UrlOps.withUrlParts(urls, "url").select(col("doc_id"),
          UrlOps.registrableDomain(col("_host")).as("registrable_domain"),
          when(col("_path") === "", lit("/")).otherwise(col("_path")).as("path"))
        val rules = {
          import s.implicits._
          UrlOps.DemoRobots.toDF("domain", "path_prefix", "allow")
        }
        UrlOps.robotsFilter(parsed, "doc_id", "registrable_domain", "path", rules)
      },
      Some {
        val rulesValues = UrlOps.DemoRobots
          .map { case (dm, pp, al) => s"('$dm', '$pp', $al)" }.mkString(",\n    |    ")
        withCtes(OracleCtes.urlsFrom("(doc_id % 125)"), OracleCtes.urlParsed,
          s"""robots AS (
            |  SELECT * FROM (VALUES
            |    $rulesValues) AS t(domain, path_prefix, allow)
            |  WHERE length(path_prefix) < 100000)""".stripMargin,
          """pe AS (
            |  SELECT doc_id, rd,
            |         CASE WHEN path = '' THEN '/' ELSE path END AS path
            |  FROM url_parsed)""".stripMargin)(
          """SELECT pe.doc_id, pe.rd AS registrable_domain, pe.path,
            |       coalesce(arg_max(r.allow,
            |         lpad(CAST(length(r.path_prefix) AS VARCHAR), 5, '0')
            |           || CASE WHEN r.allow THEN '1' ELSE '0' END), true) AS allowed,
            |       CAST(count(r.path_prefix) AS BIGINT) AS n_rules_matched
            |FROM pe LEFT JOIN robots r
            |  ON pe.rd = r.domain AND starts_with(pe.path, r.path_prefix)
            |GROUP BY 1, 2, 3""".stripMargin)
      }),

    Q("llm_domain_pagerank",
      // Domain-authority PageRank over the registrable-domain link graph —
      // the crawl-curation signal FineWeb-class pipelines weight alongside
      // text quality (a template farm minting URLs stays near the dangling
      // floor; raw doc counts cannot see that). Links are synthesized
      // deterministically: doc i's page links to the domain of the URL the
      // fixture would mint for id 31·i+7 (gcd(31,97)=1, so targets sweep
      // the domain alphabet; at sf0.01 some domains are dst-only →
      // genuinely dangling nodes at the gate). Spark derives BOTH ends
      // through the real parse pipeline (urlExpr → normalizeUrls →
      // registrable_domain); the oracle uses the closed form the fixture
      // reduces to ('site'||id%97||'.'||tld[id%7+1] — www is stripped by
      // eTLD+1 and case by lower()), whose parse equivalence
      // llm_url_normalize already pins verbatim. Iteration replayed as 8
      // chained MATERIALIZED CTE rounds (the ev_pagerank template; each
      // r_i referenced twice → r9-s2 rule a).
      (s, d) => GraphOps.pageRank(
        domainLinkGraph(s, d), "src_domain", "dst_domain"),
      Some(domainPagerankOracle(8))),

    Q("llm_domain_pagerank_dist",
      // The SAME domain-authority PageRank forced through the over-cap
      // DISTRIBUTED power iteration (GraphOps.pageRankOnCounts, edgeCap=0
      // disables the driver fast path) against the UNCHANGED oracle: the
      // two engine paths are bit-identical truncating-integer arithmetic
      // (GraphOpsSpec pins driver ≡ distributed and the cap flip), so one
      // CTE chain gates both — this row is the distributed path's gate on
      // real corpus data at every scale factor, the path a 100 TB crawl's
      // ~10⁸-domain graph actually takes.
      (s, d) => GraphOps.pageRank(
        domainLinkGraph(s, d), "src_domain", "dst_domain", iters = 2,
        edgeCap = 0),
      Some(domainPagerankOracle(2))),

    Q("llm_c4_filters",
      // The C4 line-level cleaning pass (Raffel et al. 2020 §2.2): keep
      // terminal-punctuation lines with >= 5 words, reassemble, flag
      // lorem-ipsum/brace docs, keep docs with >= 3 sentences left.
      (s, d) => TextOps.c4Filters(Tables.documents(s, d), "doc_id", "text"),
      Some("""WITH c AS (
        |  SELECT doc_id, text,
        |         string_split(text, chr(10)) AS lines,
        |         list_filter(string_split(text, chr(10)), l ->
        |           (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
        |              OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
        |           AND len(regexp_split_to_array(
        |                 regexp_replace(l, '^\s+|\s+$', '', 'g'), '\s+')) >= 5) AS kept
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text,
        |         CAST(len(lines) AS BIGINT) AS n_lines,
        |         CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |         lower(text) LIKE '%lorem ipsum%' AS has_lorem_ipsum,
        |         text LIKE '%{%' AS has_brace
        |  FROM c)
        |SELECT doc_id, cleaned_text, n_lines, n_kept_lines, has_lorem_ipsum, has_brace,
        |       CAST(length(cleaned_text)
        |            - length(replace(replace(replace(cleaned_text, '.', ''), '!', ''), '?', '')) AS BIGINT)
        |         AS n_sentences,
        |       length(cleaned_text)
        |         - length(replace(replace(replace(cleaned_text, '.', ''), '!', ''), '?', '')) >= 3
        |         AND NOT has_lorem_ipsum AND NOT has_brace AS keep_doc
        |FROM m""".stripMargin)),

    Q("llm_langid",
      (s, d) => {
        // Tokenize ONCE (Generate barrier), then score all languages over
        // the materialized array — the text-based form re-runs the
        // normalize regex chain once per language per row.
        val based = TextOps.withNormToks(Tables.documents(s, d), "text")
        val scores = TextOps.langScoresFromToks(col("_toks"))
        scores.foldLeft(based) { case (acc, (lang, c)) =>
          acc.withColumn(s"s_$lang", c.cast("long"))
        }
          .withColumn("predicted", TextOps.predictedLangFromToks(col("_toks")))
          .select(col("doc_id") +: col("predicted") +:
            TextOps.LangMarkers.keys.toSeq.sorted.map(l => col(s"s_$l")): _*)
      },
      Some(withCtes(normDocsCte, langScoredCte)(
        s"""SELECT doc_id, CASE $langCaseChain END AS predicted,
          |       ${TextOps.LangMarkers.keys.toSeq.sorted.map("s_" + _).mkString(", ")}
          |FROM scored""".stripMargin))),

    Q("llm_langid_confusion",
      // Language-ID EVALUATION: confusion counts of the n-gram heuristic's
      // prediction vs the labeled `lang` column, with each cell's ppm share
      // of its labeled row — the accuracy readout a curation pipeline
      // watches when the heuristic gates a training mix.
      (s, d) => {
        val based = TextOps.withNormToks(Tables.documents(s, d), "text")
          .withColumn("predicted", TextOps.predictedLangFromToks(col("_toks")))
        // Checkpointed: the |langs|²-row matrix feeds BOTH the output join
        // and the per-label totals — without the cut the tokenize+predict
        // scan of every document runs once per consumer.
        val counts = based
          .groupBy(col("lang").as("labeled"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .localCheckpoint(true)
        val totals = counts.groupBy(col("labeled")).agg(sum(col("n_docs")).as("_t"))
        counts.join(totals, Seq("labeled"))
          .withColumn("share_ppm", expr("n_docs * 1000000 div _t"))
          .drop("_t")
      },
      Some(withCtes(normDocsCte, langScoredCte,
        s"""pred AS (
          |  SELECT doc_id, CASE $langCaseChain END AS predicted FROM scored)""".stripMargin,
        """cm AS (
          |  SELECT d.lang AS labeled, p.predicted, CAST(count(*) AS BIGINT) AS n_docs
          |  FROM pred p JOIN documents d USING (doc_id)
          |  GROUP BY 1, 2)""".stripMargin)(
        """SELECT cm.labeled, cm.predicted, cm.n_docs,
          |       CAST(cm.n_docs * 1000000 // t.t AS BIGINT) AS share_ppm
          |FROM cm JOIN (SELECT labeled, sum(n_docs) AS t FROM cm GROUP BY 1) t
          |  USING (labeled)""".stripMargin))),

    Q("llm_quality_filter",
      // C4-style keep/drop decision composed from the quality features:
      // enough words, sane mean word length, not punctuation-soup.
      (s, d) => TextOps.qualityFeatures(Tables.documents(s, d), "text")
        .withColumn("keep",
          col("n_words") >= 10 &&
          col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
          (col("punct_chars").cast("double") / col("n_chars_m")) < lit(0.2))
        .select(col("doc_id"), col("keep")),
      Some(withCtes(normDocsCte)(
        """SELECT doc_id,
          |       len(toks) >= 10
          |       AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) >= 2.0
          |       AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) <= 12.0
          |       AND (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |            / length(text)) < 0.2 AS keep
          |FROM tok_docs""".stripMargin))),

    Q("llm_lang_rollup",
      (s, d) => TextOps.withNormToks(Tables.documents(s, d), "text")
        .select(col("doc_id"), TextOps.predictedLangFromToks(col("_toks")).as("predicted"))
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("docs")),
      Some {
        val markers = TextOps.LangMarkers.toSeq.sortBy(_._1)
        val scoreCols = markers.map { case (lang, words) =>
          s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS s_$lang"
        }.mkString(",\n         ")
        val langsDesc = markers.map(_._1).reverse
        val caseChain = langsDesc.map { l =>
          val others = markers.map(_._1).filter(_ != l)
          s"WHEN s_$l >= greatest(${others.map("s_" + _).mkString(",")}) THEN '$l'"
        }.mkString(" ")
        withCtes(normDocsCte,
          s"""scored AS (
            |  SELECT doc_id,
            |         $scoreCols
            |  FROM tok_docs)""".stripMargin)(
          s"""SELECT CASE $caseChain END AS predicted, count(*) AS docs
            |FROM scored GROUP BY 1""".stripMargin)
      }),

    Q("llm_bigram_coverage",
      // Boilerplate signal: corpus-wide top-20 bigrams (broadcast dimension)
      // joined back per document — fraction of the document's bigrams that
      // are corpus-dominant. High coverage = templated/boilerplate text.
      (s, d) => {
        // Per-doc-distinct (bigram, c) rows via the gram_counts kernel
        // (r19): drops tokenBigrams' corpus-TEXT repartition exchange (a
        // full-corpus shuffle at 100 TB) and shrinks both the top-20
        // aggregation input and the join probes by the within-doc
        // repetition factor; `c` weights keep every count
        // occurrence-exact. Locally a wash warm (GramProf both orders
        // 0.78-1.04 vs 0.76-1.07 s) — shipped for the deleted corpus
        // exchange (r13 rule d: ship the scale-correct shape, record the
        // local wash).
        def bc = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextOps.gramCounts(TextOps.tokens(col("text")), 2)).as("_g"))
          .select(col("doc_id"), col("_g.s").as("bigram"), col("_g.c").as("c"))
        val top = broadcast(
          bc.groupBy(col("bigram")).agg(sum(col("c")).as("freq"))
            .orderBy(col("freq").desc, col("bigram")).limit(20)
            .select(col("bigram")))
        bc.join(top.withColumn("is_top", lit(1)), Seq("bigram"), "left_outer")
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_bigrams"),
            sum(when(col("is_top") === 1, col("c")).otherwise(0L)).as("top_hits"))
          .withColumn("coverage_milli",
            floor(col("top_hits") * 1000.0 / col("n_bigrams")).cast("long"))
          .select(col("doc_id"), col("n_bigrams"), col("top_hits"), col("coverage_milli"))
      },
      Some(withCtes(normDocsCte,
        """bigram_docs AS (
          |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
          |           i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
          |  FROM tok_docs WHERE len(toks) >= 2),
          |top_bigrams AS (
          |  SELECT bigram FROM bigram_docs GROUP BY 1
          |  ORDER BY count(*) DESC, bigram LIMIT 20)""".stripMargin)(
        """SELECT doc_id, count(*) AS n_bigrams,
          |       CAST(sum(CASE WHEN t.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS top_hits,
          |       CAST(floor(sum(CASE WHEN t.bigram IS NOT NULL THEN 1 ELSE 0 END) * 1000.0 / count(*)) AS BIGINT)
          |         AS coverage_milli
          |FROM bigram_docs b LEFT JOIN top_bigrams t USING (bigram)
          |GROUP BY doc_id""".stripMargin))),

    Q("llm_extract_text",
      // Web-crawl step zero: markup-strip + link-density features. The
      // corpus has no real HTML, so the markup is SYNTHESIZED by a
      // deterministic formula both engines replay (the mm_* real-decode
      // discipline): title + paragraph with an escaped '&', a per-doc
      // anchor, and a nav block of two more anchors. The extraction is
      // the REAL regex pipeline (TextOps.extractMarkup); clean_hash makes
      // the recovered text byte-exact checkable.
      (s, d) => {
        val idStr = col("doc_id").cast("string")
        val html = concat(
          lit("<html><body><h1>Doc "), idStr, lit("</h1><p>"),
          replace(col("text"), lit(" and "), lit(" &amp; ")),
          lit("</p><a href=\"/d/"), idStr, lit("\">doc "), idStr,
          lit("</a><div class=\"nav\"><a href=\"/home\">home</a> "),
          lit("<a href=\"/about\">about</a></div></body></html>"))
        TextOps.extractMarkup(
          Tables.documents(s, d).select(col("doc_id"), html.as("html")),
          "doc_id", "html")
      },
      Some(withCtes(
        """wrapped AS (
          |  SELECT doc_id,
          |         '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
          |         replace(text, ' and ', ' &amp; ') ||
          |         '</p><a href="/d/' || CAST(doc_id AS VARCHAR) || '">doc ' ||
          |         CAST(doc_id AS VARCHAR) ||
          |         '</a><div class="nav"><a href="/home">home</a> ' ||
          |         '<a href="/about">about</a></div></body></html>' AS html
          |  FROM documents)""".stripMargin,
        """feat AS (
          |  SELECT doc_id, html,
          |         trim(regexp_replace(
          |           replace(replace(replace(replace(replace(replace(
          |             regexp_replace(html, '<[^>]*>', ' ', 'g'),
          |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          |             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          |           ' +', ' ', 'g')) AS clean,
          |         CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
          |         CAST((length(html) - length(replace(html, '</a>', ''))) // 4 AS BIGINT) AS n_links,
          |         CAST(length(regexp_replace(
          |           array_to_string(regexp_extract_all(html, '<a(?:\s[^>]*)?>(.*?)</a>', 1), ''),
          |           '<[^>]*>', '', 'g')) AS BIGINT) AS link_chars
          |  FROM wrapped)""".stripMargin)(
        """SELECT doc_id, n_tags, n_links,
          |       CAST(length(clean) AS BIGINT) AS text_chars, link_chars,
          |       CAST(link_chars * 1000000 // greatest(length(clean), 1) AS BIGINT)
          |         AS link_density_ppm,
          |       substr(sha256(clean), 1, 16) AS clean_hash
          |FROM feat""".stripMargin))),

    Q("llm_collocations",
      // PMI collocations: top-50 adjacent pairs most over-represented vs
      // unigram independence — MWE mining / boilerplate-phrase detector.
      // Integer division-first surrogate (TextOps.collocations scaladoc);
      // both engines rank by (pmi_ppm DESC, bigram) so the top-k cut is
      // deterministic at ties.
      (s, d) => TextOps.collocations(Tables.documents(s, d), "text"),
      Some(withCtes(normDocsCte,
        """uni AS MATERIALIZED (
          |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
          |    SELECT unnest(toks) AS tok FROM tok_docs) GROUP BY 1)""".stripMargin,
        """tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni)""",
        """bi AS (
          |  SELECT bigram, CAST(count(*) AS BIGINT) AS n_pair FROM (
          |    SELECT unnest(list_transform(range(len(toks) - 1),
          |             i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
          |    FROM tok_docs WHERE len(toks) >= 2) GROUP BY 1
          |  HAVING count(*) >= 5)""".stripMargin)(
        """SELECT bigram, n_pair, a.c AS n_a, b.c AS n_b,
          |       ((n_pair * 1000000 // a.c) * (SELECT t FROM tot)) // b.c AS pmi_ppm
          |FROM bi JOIN uni a ON a.tok = split_part(bigram, ' ', 1)
          |        JOIN uni b ON b.tok = split_part(bigram, ' ', 2)
          |ORDER BY pmi_ppm DESC, bigram LIMIT 50""".stripMargin))),

    Q("llm_token_diversity",
      // Token-diversity signals: distinct-token (type-token) ratio and the
      // dominant token's share, in exact integer milli-units. Two
      // map-side-combined aggregations (token counts, then per-doc
      // rollup) — no window, no collect. Complements llm_repetition's
      // Gopher ppm filters (dup-token mass, bigram/trigram repetition).
      (s, d) => {
        // MAP-ONLY since r16: the native repetition_stats kernel carries
        // top_token (max unigram count), so the old two-shuffle
        // (doc, token) aggregation collapses into one JVM walk per row —
        // round-9 rule (a), the RepetitionStats precedent applied to this
        // query. The explode(array(...)) Generate barrier keeps the stats
        // struct evaluated ONCE per row (filter pushdown would otherwise
        // substitute the expression into the predicate).
        import org.apache.spark.sql.graftglue.ColumnGlue
        val toks = array_remove(TextOps.tokens(col("text")), "")
        val stats = ColumnGlue.column(
          graft.expressions.RepetitionStats(ColumnGlue.expression(toks)))
        Tables.documents(s, d)
          .select(col("doc_id"), explode(array(stats)).as("_s"))
          .filter(col("_s.n_tokens") > 0)
          .select(col("doc_id"),
            col("_s.n_tokens").as("n_tokens"),
            col("_s.distinct_tokens").as("distinct_tokens"),
            floor(col("_s.distinct_tokens") * 1000.0 / col("_s.n_tokens"))
              .cast("long").as("distinct_milli"),
            floor(col("_s.top_token") * 1000.0 / col("_s.n_tokens"))
              .cast("long").as("top_tok_milli"))
      },
      Some(withCtes(normDocsCte,
        """tok_counts AS (
          |  SELECT doc_id, tok, count(*) AS c
          |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok_docs) t
          |  GROUP BY 1, 2)""".stripMargin)(
        """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS distinct_tokens,
          |       CAST(floor(count(*) * 1000.0 / sum(c)) AS BIGINT) AS distinct_milli,
          |       CAST(floor(max(c) * 1000.0 / sum(c)) AS BIGINT) AS top_tok_milli
          |FROM tok_counts GROUP BY doc_id""".stripMargin))),

    Q("llm_len_quantiles",
      // Exact per-language length quantiles via the rank-selection method
      // (value at rank ceil(p·n)) — portable to the bit, unlike
      // interpolating/approximate quantile functions whose algorithms
      // differ between engines. One window over the (lang)-partitioned
      // sort; the quantile probes are a 4-row expansion, not a re-scan.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("len"), col("doc_id"))
        val ranked = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), length(col("text")).cast("long").as("len"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
        ranked
          .select(col("lang"), col("len"), col("rn"), col("n"),
            explode(array(lit(25), lit(50), lit(75), lit(90))).as("q"))
          .filter(col("rn") === greatest(lit(1), ceil(col("q") * col("n") / 100)))
          .select(col("lang"), col("q").cast("long").as("q"), col("len"))
      },
      Some("""WITH ranked AS (
        |  SELECT lang, length(text) AS len,
        |         row_number() OVER (PARTITION BY lang ORDER BY length(text), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, q, len
        |FROM ranked, (VALUES (25), (50), (75), (90)) t(q)
        |WHERE rn = greatest(1, CAST(ceil(q * n / 100.0) AS BIGINT))""".stripMargin)),

    Q("llm_fingerprint",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fingerprint")),
      Some(withCtes(normDocsCte)(
        "SELECT doc_id, substr(sha256(norm), 1, 16) AS fingerprint FROM norm_docs"))),

    Q("llm_repetition",
      // Gopher/MassiveText intra-document repetition filters at token
      // granularity — see TextOps.repetitionSignals for the plan shape
      // (row-local signals, map-only projection, zero exchanges).
      (s, d) => TextOps.repetitionSignals(Tables.documents(s, d), "doc_id", "text"),
      Some(withCtes(normDocsCte, repGramCtes)(
        """SELECT t.doc_id,
          |       CAST(coalesce(a.nt, 0) AS BIGINT) AS n_tokens,
          |       CAST(CASE WHEN coalesce(a.nt, 0) > 0
          |                 THEN ((a.nt - a.nd) * 1000000) // a.nt ELSE 0 END AS BIGINT)
          |         AS dup_token_ppm,
          |       CAST(CASE WHEN a.maxbi IS NOT NULL
          |                 THEN (a.maxbi * 2000000) // a.nt ELSE 0 END AS BIGINT)
          |         AS top_bigram_ppm,
          |       CAST(CASE WHEN a.trirep IS NOT NULL
          |                 THEN (a.trirep * 3000000) // a.nt ELSE 0 END AS BIGINT)
          |         AS dup_trigram_ppm
          |FROM tok_docs t LEFT JOIN agg a USING (doc_id)""".stripMargin))),

    Q("llm_profile",
      // Generic per-column dataset profile (row/null/distinct counts +
      // string-rendering value range): the Great-Expectations-class report
      // published next to every dataset version. One unpivot scan + one
      // #cols-bounded aggregation; exact distinct via Expand.
      (s, d) => Profile.profile(Tables.documents(s, d),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      // GROUP BY the constant col_name: an ungrouped aggregate would emit
      // one row per column even on an EMPTY table, where Spark's groupBy
      // emits none (review catch — keeps the two engines row-identical on
      // any filtered-to-empty fixture).
      Some(Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |       CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct,
          |       min(CAST($c AS VARCHAR)) AS min_v,
          |       max(CAST($c AS VARCHAR)) AS max_v
          |FROM documents GROUP BY 1""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    Q("llm_length_stats",
      // Robust per-source length report: min/max/2·median chars — the
      // length-filter tuning table. The doubled-median trick (ev_anomaly)
      // keeps the even-count midpoint exact-integer in both engines.
      // Exactness note: percentile-class aggregates buffer group values
      // (ObjectHashAggregate) — fine for |sources|-bounded groups; for
      // corpus-scale groups use the bounded-state sk_quantile_sample
      // sketch instead (same registry, estimate semantics).
      (s, d) => Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          (median(col("n_chars")) * 2).cast("long").as("median2_chars"),
          sum(col("n_chars")).as("sum_chars")),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       CAST(median(n_chars) * 2 AS BIGINT) AS median2_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    Q("llm_dataset_card",
      // Dataset-card stats with subtotal rows: ROLLUP over (lang, source)
      // gives per-cell, per-lang, and grand-total docs / chars / tokens in
      // ONE pass — Spark plans a single scan + Expand + partial aggregation
      // (map-side combine on the 3x-expanded rows), where a UNION of three
      // re-aggregations would scan the corpus three times. gid
      // disambiguates rolled-up NULL keys from a genuine NULL value.
      (s, d) => {
        val based = TextOps.withNormToks(Tables.documents(s, d), "text")
        val nToks = when(length(col("_norm")) === 0, 0L)
          .otherwise(size(col("_toks")).cast("long"))
        based.rollup(col("lang"), col("source"))
          .agg((grouping(col("lang")) * 2 + grouping(col("source")))
            .cast("long").as("gid"),
            count(lit(1)).as("docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(nToks).as("sum_tokens"),
            max(col("n_chars")).as("max_chars"))
      },
      Some(withCtes(normDocsCte,
        """feat AS (
          |  SELECT d.lang, d.source, d.n_chars,
          |         CASE WHEN length(t.norm) = 0 THEN 0
          |              ELSE CAST(len(t.toks) AS BIGINT) END AS n_toks
          |  FROM documents d JOIN tok_docs t USING (doc_id))""".stripMargin)(
        """SELECT lang, source,
          |       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
          |       CAST(count(*) AS BIGINT) AS docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
          |       CAST(max(n_chars) AS BIGINT) AS max_chars
          |FROM feat
          |GROUP BY ROLLUP (lang, source)""".stripMargin))),

    Q("llm_lm_score",
      // Perplexity-filter analog: bigram LM with add-V smoothing trained
      // on a content-addressed 30% reference slice, integer ppm
      // conditional probabilities, per-doc mean -> keep/review/drop.
      // See TextOps.lmScore for the scale shape.
      (s, d) => TextOps.lmScore(Tables.documents(s, d), "doc_id", "text",
        keepPts = LmKeepPts, dropPts = LmDropPts),
      Some(withCtes(normDocsCte,
        """bis AS (
          |  SELECT doc_id, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
          |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
          |               i -> toks[i+1] || ' ' || toks[i+2])) AS bg
          |        FROM tok_docs WHERE len(toks) >= 2)),
          |refbi AS (
          |  SELECT * FROM bis
          |  WHERE CAST('0x' || substr(sha256('lm:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 < 300),
          |c2t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM refbi GROUP BY 1, 2),
          |c1t AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM refbi GROUP BY 1),
          |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1t),
          |wt AS (SELECT c2t.w1, c2t.w2, c2t.c2 * 1000000 // (c1t.c1 + vv.v) AS pts
          |       FROM c2t JOIN c1t USING (w1) CROSS JOIN vv),
          |agg AS (
          |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |         CAST(sum(coalesce(wt.pts, 0)) AS BIGINT) AS psum
          |  FROM bis b LEFT JOIN wt ON b.w1 = wt.w1 AND b.w2 = wt.w2
          |  GROUP BY 1)""".stripMargin)(
        s"""SELECT doc_id, n_bigrams, psum // n_bigrams AS lm_pts,
          |       CASE WHEN psum // n_bigrams >= $LmKeepPts THEN 'keep'
          |            WHEN psum // n_bigrams < $LmDropPts THEN 'drop'
          |            ELSE 'review' END AS bucket
          |FROM agg""".stripMargin))),

    Q("llm_token_drift",
      // Dataset-version drift monitor: token ppm in the pre-append slice
      // (doc_id % 10 != 0, the llm_manifest_diff convention) vs the full
      // corpus — top-30 drifted tokens. One tokenize pass, vocab-bounded
      // aggregation, 1-row totals broadcast.
      (s, d) => TextOps.tokenDrift(Tables.documents(s, d), "doc_id", "text",
        isA = pmod(col("doc_id"), lit(10)) =!= 0, k = 30),
      Some(withCtes(normDocsCte,
        """occ AS (
          |  SELECT t.tok, d.doc_id % 10 <> 0 AS in_a
          |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok_docs) t
          |  JOIN documents d USING (doc_id)),
          |counts AS (
          |  SELECT tok,
          |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
          |         CAST(count(*) AS BIGINT) AS cnt_b
          |  FROM occ GROUP BY 1),
          |tots AS (
          |  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
          |         CAST(sum(cnt_b) AS BIGINT) AS tot_b
          |  FROM counts)""".stripMargin)(
        """SELECT tok, cnt_a, cnt_b,
          |       cnt_a * 1000000 // greatest(tot_a, 1) AS ppm_a,
          |       cnt_b * 1000000 // greatest(tot_b, 1) AS ppm_b,
          |       abs(cnt_a * 1000000 // greatest(tot_a, 1)
          |           - cnt_b * 1000000 // greatest(tot_b, 1)) AS drift_ppm
          |FROM counts CROSS JOIN tots
          |ORDER BY drift_ppm DESC, tok LIMIT 30""".stripMargin))),

    Q("llm_bm25_search",
      // Targeted subset extraction: integerized Okapi BM25 for a fixed
      // 3-term query — row-local tf (no inverted-index shuffle), one
      // checkpointed feature pass feeding a 1-row stats broadcast, map-only
      // scoring, TakeOrdered top-20. See TextOps.bm25Search.
      (s, d) => TextOps.bm25Search(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("vector", "merge", "spark"), k = 20),
      Some(bm25Oracle(Seq("vector", "merge", "spark"), k = 20,
        k1Milli = 1200L, bMilli = 750L))),

    Q("llm_hybrid_rrf",
      // Hybrid retrieval: BM25 top-50 and cosine top-50 (probe = vec 0)
      // fused by integer reciprocal-rank fusion (10^9 div (60 + rank)),
      // re-ranked to the top-20. Both pools are the existing one-pass
      // rankers; fusion joins two 50-row tables.
      (s, d) => TextOps.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
        "doc_id", "text", terms = Seq("vector", "merge", "spark"),
        probeId = 0L, k = 20, poolK = 50),
      Some(withCtes(bm25Ctes(Seq("vector", "merge", "spark"), 1200L, 750L) ++ Seq(
        """lex AS (
          |  SELECT doc_id,
          |         CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id) AS BIGINT) AS lex_rank
          |  FROM (SELECT doc_id, score_milli FROM bm25scored
          |        ORDER BY score_milli DESC, doc_id LIMIT 50))""".stripMargin,
        """qv AS (
          |  SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
          |  FROM embeddings WHERE vec_id = 0)""".stripMargin,
        """cvr AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS c
          |  FROM embeddings WHERE vec_id <> 0)""".stripMargin,
        """sem AS (
          |  SELECT vec_id AS doc_id, CAST(rank AS BIGINT) AS sem_rank FROM (
          |    SELECT vec_id,
          |           row_number() OVER (ORDER BY
          |             CAST(list_sum(list_transform(range(1,65), i -> q[i]*c[i])) AS BIGINT) DESC,
          |             vec_id) AS rank
          |    FROM qv CROSS JOIN cvr) WHERE rank <= 50)""".stripMargin): _*)(
        """SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
          |       l.lex_rank, s.sem_rank,
          |       CAST(coalesce(1000000000 // (60 + l.lex_rank), 0)
          |            + coalesce(1000000000 // (60 + s.sem_rank), 0) AS BIGINT) AS rrf_ppb
          |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
          |ORDER BY rrf_ppb DESC, doc_id LIMIT 20""".stripMargin))),

    Q("llm_bpe_pairs",
      // BPE round-0 statistics: adjacent character-pair counts weighted by
      // corpus word frequency — the aggregation every merge round of a
      // tokenizer trainer runs. The corpus pass collapses to the
      // Zipf-bounded word vocabulary map-side; the pair explode runs over
      // VOCABULARY rows only. Top-50 by (count desc, pair asc).
      (s, d) => {
        val wf = Bpe.wordFreqs(Tables.documents(s, d), "text")
        wf.filter(length(col("word")) >= 2)
          .select(col("freq"),
            explode(transform(sequence(lit(0), length(col("word")) - 2),
              i => col("word").substr(i + lit(1), lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(50)
      },
      Some(withCtes(normDocsCte, wordFreqCte)(
        """SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
          |FROM (SELECT freq,
          |             unnest(list_transform(range(length(word) - 1),
          |               i -> substr(word, i + 1, 2))) AS pair
          |      FROM wf WHERE length(word) >= 2)
          |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50""".stripMargin))),

    Q("llm_bpe_train",
      // Distributed BPE training, oracle-verified END-TO-END: 6 merge
      // rounds over the corpus vocabulary, each one bounded pair-count
      // aggregation + a 1-row argmax collect (k-means shape: driver holds
      // only the k-row merge table). The DuckDB oracle replays the same 6
      // rounds as chained CTEs using the wrapped-string replace encoding
      // — see Bpe.scala for why left-to-right non-overlapping `replace`
      // IS BPE merge application.
      (s, d) => Bpe.trainAsDf(Tables.documents(s, d), "text", BpeTrainRounds),
      Some(bpeTrainOracle(BpeTrainRounds))),

    Q("llm_bpe_tokenize",
      // Train-then-tokenize end-to-end: the 6 learned merges become
      // driver-held literals and segmentation is a MAP-ONLY chain of
      // replaces over the corpus (no join at any scale) — per-doc word
      // and BPE-symbol counts. The oracle instead joins each doc's words
      // to the final vocabulary segmentation (a different evaluation
      // strategy reaching the same counts, which is the point).
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = Bpe.train(docs, "text", BpeTrainRounds)
        // native symbol-count walk (r20 — Bpe.symCount): one JVM pass per
        // doc over (start, len) symbol spans; replaces the flat wrapped-
        // string replace chain (and its Generate barrier — the count is a
        // single scalar referenced once, nothing to re-evaluate)
        TextOps.withNormToks(docs.select(col("doc_id"), col("text")), "text")
          .select(col("doc_id"), col("_norm"),
            size(col("_toks")).cast("long").as("n_words"))
          .filter(length(col("_norm")) > 0) // empty-norm docs absent (join oracle)
          .select(col("doc_id"), col("n_words"),
            Bpe.symCount(col("_norm"), merges).as("n_bpe"))
      },
      Some(withCtes(bpeRoundCtes(BpeTrainRounds) :+
        """doc_words AS (
          |  SELECT doc_id, unnest(toks) AS word FROM tok_docs)""".stripMargin: _*)(
        s"""SELECT d.doc_id,
          |       CAST(count(*) AS BIGINT) AS n_words,
          |       CAST(sum(len(string_split(trim(v.w, '|'), '||'))) AS BIGINT) AS n_bpe
          |FROM doc_words d JOIN v$BpeTrainRounds v USING (word)
          |GROUP BY 1""".stripMargin))),

    Q("llm_bpe_fertility",
      // Tokenizer fertility by language: BPE tokens per word (milli) and
      // chars per BPE token — the per-language cost report that drives
      // vocab-size and mixing decisions (a lang with 2× fertility pays 2×
      // the context budget per word). Rides the SAME native map-only
      // symbol-count walk as llm_bpe_tokenize, rolled up per lang; the oracle
      // reaches the counts via its vocabulary join instead.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = Bpe.train(docs, "text", BpeTrainRounds)
        TextOps.withNormToks(docs.select(col("lang"), col("text")), "text")
          .select(col("lang"), col("_norm"),
            size(col("_toks")).cast("long").as("n_words"))
          .filter(length(col("_norm")) > 0)
          .select(col("lang"), col("n_words"),
            length(col("_norm")).cast("long").as("n_chars"),
            Bpe.symCount(col("_norm"), merges).as("n_bpe"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("n_bpe")).as("n_bpe"))
          .select(col("lang"), col("n_docs"), col("n_words"), col("n_chars"),
            col("n_bpe"),
            expr("n_bpe * 1000 div n_words").as("fertility_milli"),
            expr("n_chars * 1000 div n_bpe").as("chars_per_tok_milli"))
      },
      Some(withCtes(bpeRoundCtes(BpeTrainRounds) ++ Seq(
        """doc_words AS (
          |  SELECT doc_id, unnest(toks) AS word FROM tok_docs)""".stripMargin,
        s"""per_doc AS (
          |  SELECT d.doc_id,
          |         CAST(count(*) AS BIGINT) AS n_words,
          |         CAST(sum(len(string_split(trim(v.w, '|'), '||'))) AS BIGINT) AS n_bpe
          |  FROM doc_words d JOIN v$BpeTrainRounds v USING (word)
          |  GROUP BY 1)""".stripMargin,
        """meta AS (
          |  SELECT n.doc_id, doc.lang, CAST(length(n.norm) AS BIGINT) AS n_chars
          |  FROM norm_docs n JOIN documents doc USING (doc_id)
          |  WHERE length(n.norm) > 0)""".stripMargin): _*)(
        """SELECT m.lang, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(p.n_words) AS BIGINT) AS n_words,
          |       CAST(sum(m.n_chars) AS BIGINT) AS n_chars,
          |       CAST(sum(p.n_bpe) AS BIGINT) AS n_bpe,
          |       CAST(sum(p.n_bpe) * 1000 // sum(p.n_words) AS BIGINT) AS fertility_milli,
          |       CAST(sum(m.n_chars) * 1000 // sum(p.n_bpe) AS BIGINT) AS chars_per_tok_milli
          |FROM per_doc p JOIN meta m USING (doc_id)
          |GROUP BY 1""".stripMargin)))
  )

  /** DuckDB BM25 oracle (mirrors TextOps.bm25Search's integer formulas
    * term by term). */
  /** BM25 CTE chain ending in `bm25scored(doc_id, dl, score_milli)` —
    * shared by the standalone llm_bm25_search oracle and the hybrid-RRF
    * fusion oracle. */
  private def bm25Ctes(terms: Seq[String],
                       k1Milli: Long, bMilli: Long): Seq[String] = {
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n         ")
    val dfSel = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(",\n         ")
    val anyMatch = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    val score = terms.indices.map { i =>
      s"(((n_docs - df_$i) * 1000 + 500) // (df_$i + 1)) * " +
        s"((tf_$i * ${k1Milli + 1000L} * 1000) // " +
        s"(tf_$i * 1000 + ($k1Milli * lennorm_milli) // 1000)) // 1000"
    }.mkString("\n         + ")
    Seq(normDocsCte,
      s"""feats AS (
        |  SELECT doc_id,
        |         CASE WHEN length(norm) = 0 THEN 0
        |              ELSE CAST(len(toks) AS BIGINT) END AS dl,
        |         $tfSel
        |  FROM tok_docs),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS BIGINT) AS sum_dl,
        |         $dfSel
        |  FROM feats),
        |scored AS (
        |  SELECT f.*, s.*,
        |         1000 - $bMilli + ($bMilli * dl * 1000)
        |           // greatest(sum_dl * 1000 // n_docs, 1) AS lennorm_milli
        |  FROM feats f CROSS JOIN stats s
        |  WHERE $anyMatch),
        |bm25scored AS (
        |  SELECT doc_id, dl, CAST($score AS BIGINT) AS score_milli
        |  FROM scored)""".stripMargin)
  }

  private def bm25Oracle(terms: Seq[String], k: Int,
                         k1Milli: Long, bMilli: Long): String =
    withCtes(bm25Ctes(terms, k1Milli, bMilli): _*)(
      s"""SELECT doc_id, dl, score_milli
        |FROM bm25scored
        |ORDER BY score_milli DESC, doc_id LIMIT $k""".stripMargin)

  /** DuckDB corpus word-frequency CTE (mirrors Bpe.wordFreqs). */
  private val wordFreqCte =
    """wf AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(toks) AS word FROM tok_docs)
      |  WHERE length(word) > 0 GROUP BY 1)""".stripMargin

  private val BpeTrainRounds = 6

  /** llm_lm_score keep/drop thresholds — set at the measured p75/p25 of
    * the sf0.01 lm_pts distribution (23.8k-40.4k, p25 28.9k, p75 32.5k)
    * so all three buckets materialize on the synthetic corpus. */
  private val LmKeepPts = 32000L
  private val LmDropPts = 28000L

  /** CTEs replaying [[Bpe.train]]'s k (pairs → argmax → replace) rounds
    * over the wrapped-string vocabulary; `word` rides along so post-
    * training consumers can join the final segmentation back to docs.
    *
    * Every chained CTE is `MATERIALIZED`: each `v$i` is referenced twice
    * (by `p${i+1}` and `v${i+1}`) and each `t$i` twice (both replace
    * arguments), so DuckDB 1.0's default inlining re-derives the chain
    * 2^k times — measured 107.7 s → 0.31 s at sf0.1 for the tokenize
    * oracle with materialization. */
  private def bpeRoundCtes(k: Int): Seq[String] = {
    val rounds = (1 to k).map { i =>
      val prev = s"v${i - 1}"
      s"""p$i AS MATERIALIZED (
        |  SELECT split_part(pr, ' ', 1) AS lhs, split_part(pr, ' ', 2) AS rhs,
        |         CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq,
        |               unnest(list_transform(range(len(syms) - 1),
        |                 j -> syms[j+1] || ' ' || syms[j+2])) AS pr
        |        FROM (SELECT string_split(trim(w, '|'), '||') AS syms, freq FROM $prev)
        |        WHERE len(syms) >= 2)
        |  GROUP BY 1, 2),
        |t$i AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |v$i AS MATERIALIZED (
        |  SELECT word,
        |         replace(w, (SELECT '|' || lhs || '||' || rhs || '|' FROM t$i),
        |                    (SELECT '|' || lhs || rhs || '|' FROM t$i)) AS w, freq
        |  FROM $prev)""".stripMargin
    }
    Seq(normDocsCte, wordFreqCte,
      """v0 AS MATERIALIZED (
        |  SELECT word,
        |         '|' || array_to_string(list_transform(range(length(word)),
        |           i -> substr(word, i + 1, 1)), '||') || '|' AS w, freq
        |  FROM wf)""".stripMargin) ++ rounds
  }

  /** Generated oracle for [[Bpe.train]]: the merge table after k rounds. */
  private def bpeTrainOracle(k: Int): String = {
    val union = (1 to k)
      .map(i => s"SELECT CAST($i AS INTEGER) AS merge_rank, lhs, rhs, cnt FROM t$i")
      .mkString("\n", "\nUNION ALL\n", "")
    withCtes(bpeRoundCtes(k): _*)(union)
  }

  /** DuckDB per-doc gram frequency rollup (mirrors the
    * [[TextOps.repetitionSignals]] native expression): nt/nd = token
    * count/distinct, maxbi = max bigram count, trirep = Σ(trigram count−1).
    * Shared by llm_repetition and the curation report. */
  private val repGramCtes =
    """grams AS (
          |  SELECT doc_id, 1 AS kind, unnest(toks) AS gram FROM tok_docs
          |  UNION ALL
          |  SELECT doc_id, 2 AS kind,
          |         unnest(list_transform(range(len(toks) - 1),
          |                i -> toks[i+1] || ' ' || toks[i+2])) AS gram
          |  FROM tok_docs WHERE len(toks) >= 2
          |  UNION ALL
          |  SELECT doc_id, 3 AS kind,
          |         unnest(list_transform(range(len(toks) - 2),
          |                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM tok_docs WHERE len(toks) >= 3),
          |gc AS (SELECT doc_id, kind, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
          |agg AS (SELECT doc_id,
          |               sum(CASE WHEN kind = 1 THEN c END) AS nt,
          |               count(CASE WHEN kind = 1 THEN 1 END) AS nd,
          |               max(CASE WHEN kind = 2 THEN c END) AS maxbi,
          |               sum(CASE WHEN kind = 3 THEN c - 1 END) AS trirep
          |        FROM gc GROUP BY 1)""".stripMargin

  def dedup: Seq[Q] = Seq(
    Q("dedup_exact",
      (s, d) => DedupOps.exactDedup(Tables.documents(s, d), "doc_id", "text"),
      Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS copies
        |FROM documents GROUP BY 1""".stripMargin)),

    Q("dedup_exact_survivors",
      (s, d) => DedupOps.exactDedupSurvivors(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))""".stripMargin)),

    Q("dedup_minhash_sig",
      (s, d) => DedupOps.minhashSignature(Tables.documents(s, d), "doc_id", "text", 8)
        .select(col("doc_id") +: (0 until 8).map(j => col(s"sig_$j")): _*),
      Some(withCtes(normDocsCte, shinglesCte, sigCte)(
        s"SELECT doc_id, ${(0 until 8).map("sig_" + _).mkString(", ")} FROM sig_docs"))),

    Q("dedup_lsh_pairs",
      (s, d) => DedupOps.candidatePairs(
        DedupOps.lshBuckets(
          DedupOps.minhashSignature(Tables.documents(s, d), "doc_id", "text", 8), "doc_id"),
        "doc_id"),
      // the inline CTE replays the same maxBucket = 1000 drop as pairsCte
      // (r19 — the skewed decade's 2k clique diverged the uncapped form)
      Some(withCtes(normDocsCte, shinglesCte, sigCte, bucketCte,
        """ok_buckets AS (
          |  SELECT band, bucket FROM bucket_docs GROUP BY 1, 2
          |  HAVING count(*) > 1 AND count(*) <= 1000)""".stripMargin)(
        """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |FROM bucket_docs a JOIN bucket_docs b
          |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          |JOIN ok_buckets o ON o.band = a.band AND o.bucket = a.bucket""".stripMargin))),

    Q("dedup_clusters",
      // Pairwise candidates → dedup clusters: connected components of the
      // MinHash-LSH collision graph by iterative min-label propagation,
      // checked against a DuckDB RECURSIVE transitive-closure oracle over
      // the ALL-PAIRS graph (different algorithm AND different edge set —
      // the Spark side walks linear star edges, the oracle enumerates the
      // quadratic closure; components must still agree exactly).
      (s, d) => {
        val pairs = lshStarPairs(s, d)
          .localCheckpoint() // consumed twice inside the loop seed
        DedupOps.connectedComponents(pairs, "id_a", "id_b")
          .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      },
      Some(clustersOracleSql)),

    Q("dedup_clusters_star",
      // Same clustering by the HIGH-DIAMETER-safe algorithm: alternating
      // large-star/small-star contraction (O(log²n) rounds worst case vs
      // propagation's O(diameter)), against the same closure oracle.
      (s, d) => DedupOps.connectedComponentsStar(lshStarPairs(s, d), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id")),
      Some(clustersOracleSql)),

    Q("llm_cluster_split",
      // The FIX llm_leakage_audit measures the absence of: assign the
      // near-dup CLUSTER (not the doc) to the train/test split, so no
      // collision edge can straddle — the query proves it by carrying the
      // straddle count (necessarily zero) next to the per-split rollup.
      (s, d) => {
        val pairs = lshStarPairs(s, d).localCheckpoint() // CC seed + straddle join
        val cc = DedupOps.connectedComponents(pairs, "id_a", "id_b")
          .select(col("node").as("doc_id"), col("label"))
        // doc-scale narrow (2 longs/row); consumed by the rollup AND both
        // straddle-join sides, and recompute includes the CC rounds —
        // checkpoint (round-4 rule d)
        val labeled = Tables.documents(s, d).select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"))
          .localCheckpoint()
        val split = Sampling.trainTestSplit(labeled, "cluster_id", 100)
          .select(col("doc_id"), col("cluster_id"), col("split"))
        val straddle = pairs
          .join(split.select(col("doc_id").as("id_a"), col("split").as("_sa")),
            Seq("id_a"))
          .join(split.select(col("doc_id").as("id_b"), col("split").as("_sb")),
            Seq("id_b"))
          .agg(coalesce(sum(when(col("_sa") =!= col("_sb"), 1L).otherwise(0L)),
            lit(0L)).as("straddle_pairs"))
        split.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"))
          .crossJoin(broadcast(straddle))
      },
      Some("WITH RECURSIVE " +
        Seq(normDocsCte, shinglesCte, sigCte, bucketCte, pairsCte).mkString(",\n") + ",\n" +
        s"""edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pair_docs
          |  UNION SELECT id_b, id_a FROM pair_docs),
          |reach(node, label) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
          |cc AS MATERIALIZED (SELECT node, min(label) AS label FROM reach GROUP BY node),
          |labeled AS MATERIALIZED (
          |  SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS cluster_id,
          |         CASE WHEN ${h60("'split:' || CAST(coalesce(cc.label, d.doc_id) AS VARCHAR)")} % 1000 < 100
          |              THEN 'test' ELSE 'train' END AS split
          |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
          |hubs AS (SELECT band, bucket, min(doc_id) AS hub, count(*) AS n
          |         FROM bucket_docs GROUP BY 1, 2),
          |star AS MATERIALIZED (
          |  SELECT h.hub AS id_a, b.doc_id AS id_b
          |  FROM bucket_docs b JOIN hubs h USING (band, bucket)
          |  WHERE h.n <= 1000 AND b.doc_id <> h.hub),
          |straddle AS (
          |  SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
          |           AS straddle_pairs
          |  FROM star s
          |  JOIN labeled a ON a.doc_id = s.id_a
          |  JOIN labeled b ON b.doc_id = s.id_b)
          |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
          |       (SELECT straddle_pairs FROM straddle) AS straddle_pairs
          |FROM labeled GROUP BY 1""".stripMargin)),

    Q("dedup_cc_survivors",
      // The full near-dup dedup pipeline as one operator: MinHash → LSH →
      // candidate pairs → connected components → drop every document whose
      // cluster elected a different representative. Singletons (never in a
      // pair) survive untouched; the anti-join probes only the loser set.
      (s, d) => DedupOps.nearDupSurvivors(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("lang")),
      Some("WITH RECURSIVE " +
        Seq(normDocsCte, shinglesCte, sigCte, bucketCte, pairsCte).mkString(",\n") + ",\n" +
        """edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pair_docs
          |  UNION SELECT id_b, id_a FROM pair_docs),
          |reach(node, label) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
          |losers AS (
          |  SELECT node FROM reach GROUP BY node HAVING min(label) <> node)
          |SELECT d.doc_id, d.lang
          |FROM documents d LEFT JOIN losers l ON d.doc_id = l.node
          |WHERE l.node IS NULL""".stripMargin)),

    Q("dedup_cc_survivors_longest",
      // The survivor pipeline under the PRODUCTION election rule: each
      // cluster keeps its longest member (n_chars, ties → lowest id)
      // instead of the min-id representative. Same LSH/CC front as
      // dedup_cc_survivors; only the election differs.
      (s, d) => DedupOps.nearDupSurvivorsBy(Tables.documents(s, d),
          "doc_id", "text", col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Some("WITH RECURSIVE " +
        Seq(normDocsCte, shinglesCte, sigCte, bucketCte, pairsCte).mkString(",\n") + ",\n" +
        """edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pair_docs
          |  UNION SELECT id_b, id_a FROM pair_docs),
          |reach(node, label) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
          |members AS (
          |  SELECT node, min(label) AS label FROM reach GROUP BY node),
          |scored AS (
          |  SELECT m.node, m.label, d.n_chars
          |  FROM members m JOIN documents d ON d.doc_id = m.node),
          |reps AS (
          |  SELECT label, node AS rep FROM (
          |    SELECT label, node,
          |           row_number() OVER (PARTITION BY label
          |             ORDER BY n_chars DESC, node) AS rn
          |    FROM scored) WHERE rn = 1),
          |losers AS (
          |  SELECT s.node FROM scored s JOIN reps r USING (label)
          |  WHERE s.node <> r.rep)
          |SELECT d.doc_id, d.lang, d.n_chars
          |FROM documents d LEFT JOIN losers l ON d.doc_id = l.node
          |WHERE l.node IS NULL""".stripMargin)),

    Q("llm_segment_dedup",
      // Cross-document boilerplate removal: aligned 8-token segments
      // occurring in >1 distinct document are dropped from every document
      // and the text is reassembled in segment order (in-group array_sort —
      // the a3 ordered-fold pattern, no global sort).
      (s, d) => DedupOps.dropBoilerplateSegments(
        Tables.documents(s, d), "doc_id", "text", segTokens = 8, maxDocs = 1),
      Some(withCtes(normDocsCte)(
        """SELECT d.doc_id,
          |       coalesce(a.cleaned_text, '') AS cleaned_text,
          |       CAST(coalesce(a.n_segs, 0) AS BIGINT) AS n_segs,
          |       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
          |FROM documents d LEFT JOIN (
          |  WITH seg0 AS (
          |    SELECT doc_id, toks,
          |           unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
          |    FROM tok_docs WHERE length(norm) > 0),
          |  seg AS (
          |    SELECT doc_id, i AS seg_idx,
          |           array_to_string(list_slice(toks, CAST(i*8+1 AS BIGINT), CAST(i*8+8 AS BIGINT)), ' ') AS segment
          |    FROM seg0),
          |  cnt AS (SELECT segment, count(DISTINCT doc_id) AS ndocs FROM seg GROUP BY 1)
          |  SELECT s.doc_id,
          |         CAST(count(*) AS BIGINT) AS n_segs,
          |         CAST(sum(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |         coalesce(string_agg(CASE WHEN c.ndocs <= 1 THEN s.segment END, ' ' ORDER BY s.seg_idx), '') AS cleaned_text
          |  FROM seg s JOIN cnt c USING (segment)
          |  GROUP BY 1) a USING (doc_id)""".stripMargin))),

    Q("llm_decontam",
      // Eval-leakage check: per train document, the ppm of its distinct
      // 3-token shingles that occur anywhere in the content-addressed 10%
      // test split; flagged at >= 50%. Overlap in integer ppm — no float
      // division to diverge between engines. Auto-selects the map-only
      // driver-set tier here (the split is provably small).
      (s, d) => DedupOps.decontaminate(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_shingles"), col("n_matched"),
          col("overlap_ppm"), col("contaminated")),
      Some(decontamOracleSql)),

    Q("llm_decontam_hash",
      // The shuffle-join twin: identical semantics with the driver-set
      // tier AND the broadcast FORCED OFF — the fallback a huge test split
      // takes. Oracle-checked against the same SQL to prove the strategy
      // never changes results.
      (s, d) => DedupOps.decontaminate(Tables.documents(s, d), "doc_id", "text",
          driverTestSet = Some(false), broadcastTest = Some(false))
        .select(col("doc_id"), col("n_shingles"), col("n_matched"),
          col("overlap_ppm"), col("contaminated")),
      Some(decontamOracleSql)),

    Q("dedup_jaccard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // Materialize the candidate set before verification: jaccard()
        // consumes `pairs` twice (the pairs themselves + the left-semi doc
        // restriction), and without materialization the whole MinHash
        // pipeline would be evaluated twice. localCheckpoint (not
        // persist()) cuts the lineage eagerly AND lets the context cleaner
        // reclaim the blocks once the DataFrame is unreachable — an
        // unpersisted cache would leak into every later query of the
        // session. It is the checkpoint every find-then-verify pipeline
        // places between the two phases.
        val pairs = DedupOps.candidatePairs(
          DedupOps.lshBuckets(DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"),
          "doc_id").localCheckpoint()
        DedupOps.jaccard(pairs, docs, "doc_id", "text")
      },
      Some(withCtes(normDocsCte, shinglesCte, sigCte, bucketCte, pairsCte)(
        """SELECT p.id_a, p.id_b,
          |       CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS INTEGER) AS inter,
          |       CAST(len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
          |            - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS INTEGER) AS union_,
          |       CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS DOUBLE)
          |         / (len(list_distinct(a.shingles)) + len(list_distinct(b.shingles))
          |            - len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles)))) AS jaccard
          |FROM pair_docs p
          |JOIN shingle_docs a ON a.doc_id = p.id_a
          |JOIN shingle_docs b ON b.doc_id = p.id_b""".stripMargin))),

    Q("dedup_containment",
      // One-sided containment verification on the LSH candidates (Broder):
      // catches subset duplication Jaccard structurally misses (a doc
      // wholly inside a much longer one). Same candidate-restricted
      // verification shape as dedup_jaccard; exact milli integers.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = DedupOps.candidatePairs(
          DedupOps.lshBuckets(DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"),
          "doc_id").localCheckpoint()
        DedupOps.containment(pairs, docs, "doc_id", "text")
      },
      Some(withCtes(normDocsCte, shinglesCte, sigCte, bucketCte, pairsCte)(
        """SELECT p.id_a, p.id_b,
          |       CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) AS BIGINT) AS inter,
          |       CAST(len(list_distinct(a.shingles)) AS BIGINT) AS size_a,
          |       CAST(len(list_distinct(b.shingles)) AS BIGINT) AS size_b,
          |       CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) * 1000
          |            // len(list_distinct(a.shingles)) AS BIGINT) AS cont_a_milli,
          |       CAST(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) * 1000
          |            // len(list_distinct(b.shingles)) AS BIGINT) AS cont_b_milli
          |FROM pair_docs p
          |JOIN shingle_docs a ON a.doc_id = p.id_a
          |JOIN shingle_docs b ON b.doc_id = p.id_b""".stripMargin))),

    Q("dedup_winnow",
      // Winnowing fingerprint selection (Schleimer et al. 2003): per-doc
      // sliding-window minimum shingle hashes — the sublinear-density
      // span index. See DedupOps.winnowFingerprints for the flat codegen
      // shape (no HOF sha, no per-position window function).
      (s, d) => DedupOps.winnowFingerprints(Tables.documents(s, d), "doc_id", "text"),
      Some(withCtes(normDocsCte, shinglesCte)(
        """SELECT DISTINCT doc_id,
          |       unnest(list_transform(range(greatest(len(shingles) - 3, 1)),
          |              i -> list_min(shingles[i+1:least(i+4, len(shingles))])))
          |         AS fingerprint
          |FROM shingle_docs""".stripMargin))),

    Q("dedup_winnow_matches",
      // The winnow index at work: fingerprints shared by 2+ documents =
      // cross-doc span matches at ~2/(w+1) the cost of indexing every
      // shingle (the Schleimer guarantee: any shared span of >= w+k-1
      // tokens surfaces here). Top-50 by breadth; TakeOrdered, no global
      // sort. Complements llm_dup_spans, which indexes EVERY shingle.
      (s, d) => DedupOps.winnowFingerprints(Tables.documents(s, d), "doc_id", "text")
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("fingerprint"))
        .limit(50),
      Some(withCtes(normDocsCte, shinglesCte,
        """winnow AS (
          |  SELECT DISTINCT doc_id,
          |         unnest(list_transform(range(greatest(len(shingles) - 3, 1)),
          |                i -> list_min(shingles[i+1:least(i+4, len(shingles))])))
          |           AS fingerprint
          |  FROM shingle_docs)""".stripMargin)(
        """SELECT fingerprint, count(*) AS n_docs,
          |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
          |FROM winnow GROUP BY 1 HAVING count(*) > 1
          |ORDER BY n_docs DESC, fingerprint LIMIT 50""".stripMargin))),

    Q("dedup_simhash",
      (s, d) => DedupOps.simhash16(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val bits = (0 until 16).map(i =>
          s"CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        withCtes(normDocsCte,
          s"""tok_h AS (
            |  SELECT doc_id, ${h60("t.tok")} AS h
            |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok_docs) t)""".stripMargin)(
          s"SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM tok_h GROUP BY doc_id")
      }),

    Q("dedup_source_overlap",
      // Cross-source overlap matrix: estimated shingle-set Jaccard for
      // every source pair via per-source KMV bottom-k sketches (k-bounded
      // aggregate state, no corpus-scale distinct) and a SOURCES²
      // broadcast pairwise stage. The KMV union estimator is
      // hash-deterministic, so the oracle replays the sketch exactly with
      // a rank filter.
      (s, d) => DedupOps.sourceOverlap(Tables.documents(s, d),
        "source", "doc_id", "text", k = 256),
      Some(withCtes(normDocsCte, shinglesCte,
        """src_h AS (
          |  SELECT DISTINCT d.source, h
          |  FROM (SELECT doc_id, unnest(shingles) AS h FROM shingle_docs) s
          |  JOIN documents d USING (doc_id)),
          |sk AS (
          |  SELECT source, list(h ORDER BY h) AS mins
          |  FROM (SELECT source, h,
          |               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          |        FROM src_h)
          |  WHERE rn <= 256 GROUP BY source),
          |pairs AS (
          |  SELECT a.source AS src_a, b.source AS src_b, a.mins AS am, b.mins AS bm,
          |         list_sort(list_distinct(a.mins || b.mins))[:256] AS m
          |  FROM sk a JOIN sk b ON a.source < b.source)""".stripMargin)(
        """SELECT src_a, src_b,
          |       CAST(least(256, len(m)) AS BIGINT) AS kk,
          |       CAST(len(list_filter(m, h -> list_contains(am, h) AND list_contains(bm, h))) AS BIGINT) AS inter_cnt,
          |       CAST(len(list_filter(m, h -> list_contains(am, h) AND list_contains(bm, h))) * 1000000
          |            // least(256, len(m)) AS BIGINT) AS jaccard_ppm
          |FROM pairs""".stripMargin)))
  )

  /** Shared by ann_quantization_error and ann_outliers: quantized vectors,
    * first-8 seed centroids, and the argmax (dot desc, cid) assignment
    * with each vector's squared L2 to its centroid. */
  private val seedAssignCtes =
    """WITH quant AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM quant WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT q.vec_id, c.cid,
      |           CAST(list_sum(list_transform(range(1,65), i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))) AS BIGINT) AS d2,
      |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
      |    FROM quant q CROSS JOIN cent c) WHERE rn = 1)""".stripMargin

  def ann: Seq[Q] = Seq(
    Q("ann_brute_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"))
      },
      Some("""WITH qv AS (
        |  SELECT vec_id AS query_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id < 5),
        |cv AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS c
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, vec_id,
        |         CAST(list_sum(list_transform(range(1, 65), i -> q[i] * c[i])) AS BIGINT) AS score
        |  FROM qv CROSS JOIN cv WHERE query_id <> vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, score FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("ann_lsh_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 10, planes = 4, dim = 64)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"), col("bucket"))
      },
      Some {
        val planeDot = (j: Int) =>
          s"CAST(list_sum(list_transform(range(1, 65), i -> v[i] * (((i-1)*31 + $j*17) % 101 - 50))) AS BIGINT)"
        val bucketExpr = (0 until 4).map(j =>
          s"CASE WHEN ${planeDot(j)} >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
        s"""WITH quant AS (
          |  SELECT vec_id,
          |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          |  FROM embeddings),
          |keyed AS (
          |  SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS bucket FROM quant),
          |scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id, q.bucket,
          |         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) AS BIGINT) AS score
          |  FROM keyed q JOIN keyed c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          |  WHERE q.vec_id < 5),
          |ranked AS (
          |  SELECT query_id, vec_id, score, bucket,
          |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT query_id, rank, vec_id, score, bucket FROM ranked WHERE rank <= 10""".stripMargin
      }),

    Q("ann_ivf_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), 10,
            numCentroids = 8, nprobe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"), col("cluster"))
      },
      Some("""WITH quant AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM quant WHERE vec_id < 8),
        |assign AS (
        |  SELECT vec_id, cid, v FROM (
        |    SELECT q.vec_id, c.cid, q.v,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cid, qv FROM (
        |    SELECT q.vec_id AS query_id, c.cid, q.v AS qv,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.query_id, a.vec_id, a.cid,
        |         CAST(list_sum(list_transform(range(1,65), i -> p.qv[i]*a.v[i])) AS BIGINT) AS score
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cid, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, score, cid AS cluster
        |FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("ann_recall_at_k",
      // Index-quality report: recall@10 of the IVF index against the exact
      // brute-force ground truth on the same query sample — the standard
      // ANN evaluation loop, composed from the two existing operators. The
      // exact side is O(Q·N) BY DESIGN and runs over a bounded query
      // sample (never corpus×corpus); the roll-up joins two k×|Q|-row
      // results, trivially small at any corpus size.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        val exact = Similarity.bruteForceTopK(emb, q, 10)
          .select(col("query_id"), col("vec_id"))
        val approx = Similarity.ivfTopK(emb, q, 10, numCentroids = 8, nprobe = 2)
          .select(col("query_id"), col("vec_id"), lit(1L).as("_hit"))
        // both sides are k×|queries| rows — broadcast the probe side so the
        // roll-up never sorts/shuffles (SMJ was the planner's stats-blind pick)
        exact.join(broadcast(approx), Seq("query_id", "vec_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_exact"),
            coalesce(sum(col("_hit")), lit(0L)).as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
      },
      Some("""WITH quant AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, v AS q FROM quant WHERE vec_id < 5),
        |branked AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |  FROM (SELECT t.query_id, c.vec_id,
        |               CAST(list_sum(list_transform(range(1,65), i -> t.q[i]*c.v[i])) AS BIGINT) AS score
        |        FROM qv t CROSS JOIN quant c WHERE t.query_id <> c.vec_id)),
        |exact AS (SELECT query_id, vec_id FROM branked WHERE rank <= 10),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM quant WHERE vec_id < 8),
        |assign AS (
        |  SELECT vec_id, cid, v FROM (
        |    SELECT q.vec_id, c.cid, q.v,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cid, qv FROM (
        |    SELECT q.vec_id AS query_id, c.cid, q.v AS qv,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
        |iranked AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |  FROM (SELECT p.query_id, a.vec_id,
        |               CAST(list_sum(list_transform(range(1,65), i -> p.qv[i]*a.v[i])) AS BIGINT) AS score
        |        FROM probes p JOIN assign a ON a.cid = p.cid
        |        WHERE a.vec_id <> p.query_id)),
        |approx AS (SELECT query_id, vec_id FROM iranked WHERE rank <= 10)
        |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS recall_ppm
        |FROM exact e LEFT JOIN approx a USING (query_id, vec_id)
        |GROUP BY 1""".stripMargin)),

    Q("ann_mean_pool",
      // Chunk→document mean pooling (8 chunks per doc via vec_id div 8):
      // exact integer per-dimension mean — see Similarity.meanPool for the
      // bounded-state aggregation shape. The pooled vector is emitted as a
      // comma-joined STRING, not an ARRAY: the driver's comparator
      // pandas-sorts result cells, and list-typed cells are unhashable
      // there (same information, sortable cell; RegisteredQueriesSpec
      // lints the whole registry against array/struct outputs).
      (s, d) => Similarity.meanPool(Tables.embeddings(s, d), expr("vec_id div 8"))
        .withColumn("pooled",
          concat_ws(",", expr("transform(pooled, x -> CAST(x AS STRING))"))),
      Some("""WITH quant AS (
        |  SELECT vec_id // 8 AS group_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |per AS (
        |  SELECT group_id, i, CAST(sum(v[i]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM quant, range(1, 65) t(i) GROUP BY group_id, i)
        |SELECT group_id, CAST(min(c) AS BIGINT) AS n_chunks,
        |       array_to_string(list(s // c ORDER BY i), ',') AS pooled
        |FROM per GROUP BY group_id""".stripMargin)),

    Q("ann_ivf_two_level",
      // Hierarchical IVF: 16 cells routed through 4 super-cells — the
      // N^1.25 assignment shape (see Similarity.ivfTwoLevelTopK scaladoc).
      // Every level of the hierarchy (cell→super routing, vector
      // assignment, query probing, final rank) is deterministic integer
      // math, mirrored level-for-level by the oracle.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTwoLevelTopK(emb, emb.filter(col("vec_id") < 5), 10,
            numCells = 16, nprobe = 2, sprobe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"), col("cluster"))
      },
      Some {
        val dot = (a: String, b: String) =>
          s"CAST(list_sum(list_transform(range(1,65), i -> $a[i]*$b[i])) AS BIGINT)"
        s"""WITH quant AS (
          |  SELECT vec_id,
          |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
          |  FROM embeddings),
          |cells AS (SELECT vec_id AS cid, v AS cv FROM quant WHERE vec_id < 16),
          |sups AS (SELECT cid AS scid, cv AS scv FROM cells WHERE cid < 4),
          |cmap AS (
          |  SELECT cid, scid, cv FROM (
          |    SELECT c.cid, s.scid, c.cv,
          |           row_number() OVER (PARTITION BY c.cid ORDER BY
          |             ${dot("c.cv", "s.scv")} DESC, s.scid) AS rn
          |    FROM cells c CROSS JOIN sups s) WHERE rn = 1),
          |a1 AS (
          |  SELECT vec_id, scid, v FROM (
          |    SELECT q.vec_id, s.scid, q.v,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             ${dot("q.v", "s.scv")} DESC, s.scid) AS rn
          |    FROM quant q CROSS JOIN sups s) WHERE rn = 1),
          |assign AS (
          |  SELECT vec_id, cid, v FROM (
          |    SELECT a.vec_id, m.cid, a.v,
          |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
          |             ${dot("a.v", "m.cv")} DESC, m.cid) AS rn
          |    FROM a1 a JOIN cmap m ON m.scid = a.scid) WHERE rn = 1),
          |qsup AS (
          |  SELECT query_id, scid, qv FROM (
          |    SELECT q.vec_id AS query_id, s.scid, q.v AS qv,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             ${dot("q.v", "s.scv")} DESC, s.scid) AS rn
          |    FROM quant q CROSS JOIN sups s WHERE q.vec_id < 5) WHERE rn <= 2),
          |probes AS (
          |  SELECT query_id, cid, qv FROM (
          |    SELECT u.query_id, m.cid, u.qv,
          |           row_number() OVER (PARTITION BY u.query_id ORDER BY
          |             ${dot("u.qv", "m.cv")} DESC, m.cid) AS rn
          |    FROM qsup u JOIN cmap m ON m.scid = u.scid) WHERE rn <= 2),
          |scored AS (
          |  SELECT p.query_id, a.vec_id, a.cid,
          |         ${dot("p.qv", "a.v")} AS score
          |  FROM probes p JOIN assign a ON a.cid = p.cid
          |  WHERE a.vec_id <> p.query_id),
          |ranked AS (
          |  SELECT query_id, vec_id, cid, score,
          |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score, cid AS cluster
          |FROM ranked WHERE rank <= 10""".stripMargin
      }),

    Q("ann_pq_topk",
      // Product-quantization ANN: 64-dim vectors → 4 subspace codes from an
      // 8-entry codebook; scoring is a sum of broadcast lookup-table dots
      // (asymmetric distance), never the raw corpus floats. The whole
      // encode+score path is int64 arithmetic, mirrored cell-for-cell in
      // the oracle.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), 10)
      },
      Some("""WITH el AS (
        |  SELECT vec_id, i // 16 AS s, i % 16 AS j,
        |         CAST(round(CAST(embedding[CAST(i+1 AS INTEGER)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM (SELECT vec_id, embedding, unnest(range(64)) AS i FROM embeddings)),
        |cb AS (SELECT vec_id AS code, s, j, q AS cq FROM el WHERE vec_id < 8),
        |dists AS (
        |  SELECT v.vec_id, v.s, c.code, sum((v.q - c.cq)*(v.q - c.cq)) AS d2
        |  FROM el v JOIN cb c ON v.s = c.s AND v.j = c.j
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS (
        |  SELECT q.vec_id AS query_id, q.s, c.code, sum(q.q * c.cq) AS pd
        |  FROM el q JOIN cb c ON q.s = c.s AND q.j = c.j
        |  WHERE q.vec_id < 5
        |  GROUP BY 1, 2, 3),
        |approx AS (
        |  SELECT l.query_id, v.vec_id, CAST(sum(l.pd) AS BIGINT) AS score
        |  FROM codes v JOIN lut l ON v.s = l.s AND v.code = l.code
        |  GROUP BY 1, 2)
        |SELECT query_id, rank, vec_id, score FROM (
        |  SELECT query_id, vec_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, vec_id) AS BIGINT) AS rank
        |  FROM approx WHERE vec_id <> query_id) WHERE rank <= 10""".stripMargin)),

    Q("ann_pq_trained",
      // Trained-codebook PQ: one deterministic per-subspace Lloyd round on
      // the first-8 seed, then the same encode + ADC scoring. The oracle
      // mirrors the full subspace iteration (L2 argmin assignment,
      // floor(avg+0.5) means, empty-code fallback) in SQL.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 5), 10)
      },
      Some("""WITH el AS (
        |  SELECT vec_id, i // 16 AS s, i % 16 AS j,
        |         CAST(round(CAST(embedding[CAST(i+1 AS INTEGER)] AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM (SELECT vec_id, embedding, unnest(range(64)) AS i FROM embeddings)),
        |cb0 AS (SELECT vec_id AS code, s, j, q AS cq FROM el WHERE vec_id < 8),
        |a0 AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT v.vec_id, v.s, c.code,
        |           row_number() OVER (PARTITION BY v.vec_id, v.s
        |             ORDER BY sum((v.q - c.cq)*(v.q - c.cq)), c.code) AS rn
        |    FROM el v JOIN cb0 c ON v.s = c.s AND v.j = c.j
        |    GROUP BY v.vec_id, v.s, c.code) WHERE rn = 1),
        |m1 AS (
        |  SELECT a.s, a.code, e.j, CAST(floor(avg(e.q) + 0.5) AS BIGINT) AS cq_new
        |  FROM a0 a JOIN el e ON e.vec_id = a.vec_id AND e.s = a.s
        |  GROUP BY 1, 2, 3),
        |cb AS (
        |  SELECT c.code, c.s, c.j, coalesce(m.cq_new, c.cq) AS cq
        |  FROM cb0 c LEFT JOIN m1 m ON m.s = c.s AND m.code = c.code AND m.j = c.j),
        |dists AS (
        |  SELECT v.vec_id, v.s, c.code, sum((v.q - c.cq)*(v.q - c.cq)) AS d2
        |  FROM el v JOIN cb c ON v.s = c.s AND v.j = c.j
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS (
        |  SELECT q.vec_id AS query_id, q.s, c.code, sum(q.q * c.cq) AS pd
        |  FROM el q JOIN cb c ON q.s = c.s AND q.j = c.j
        |  WHERE q.vec_id < 5
        |  GROUP BY 1, 2, 3),
        |approx AS (
        |  SELECT l.query_id, v.vec_id, CAST(sum(l.pd) AS BIGINT) AS score
        |  FROM codes v JOIN lut l ON v.s = l.s AND v.code = l.code
        |  GROUP BY 1, 2)
        |SELECT query_id, rank, vec_id, score FROM (
        |  SELECT query_id, vec_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, vec_id) AS BIGINT) AS rank
        |  FROM approx WHERE vec_id <> query_id) WHERE rank <= 10""".stripMargin)),

    Q("llm_cluster_sample",
      // Cluster-balanced (diversity) sampling: assign each embedding to its
      // nearest centroid (broadcast argmax — the IVF assignment), then draw
      // a deterministic 10-vector quota per cluster by content-addressed
      // hash rank. The curation op that keeps a training mix from collapsing
      // onto the densest region of embedding space.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cent = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv")))
        val assigned = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
          .crossJoin(cent)
          .withColumn("_cscore", Similarity.qdot(col("v"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("_cscore"), -col("cid"))).as("cluster"))
        Sampling.stratifiedQuota(assigned, "cluster", "vec_id", 10, salt = "clsamp")
          .select(col("cluster"), col("vec_id"), col("draw_rank"))
      },
      Some("""WITH quant AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM quant WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id, c.cid,
        |         list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.cv[i+1])) AS cscore
        |  FROM quant q CROSS JOIN cent c),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |ranked AS (
        |  SELECT cluster, vec_id,
        |         CAST(row_number() OVER (PARTITION BY cluster ORDER BY
        |           CAST('0x' || substr(sha256('clsamp:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
        |           vec_id) AS INTEGER) AS draw_rank
        |  FROM assigned)
        |SELECT cluster, vec_id, draw_rank FROM ranked WHERE draw_rank <= 10""".stripMargin)),

    Q("ann_quantization_error",
      // Index-quality readout: per assigned cluster, member count and mean
      // quantized squared-L2 to the centroid (floored to int64) — the
      // metric that says when IVF/PQ codebooks need retraining. Broadcast
      // argmax assignment (same plan as the IVF corpus side) + one
      // partial-aggregated rollup; no window, no pairs.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cent = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv")))
        val qd2 = Similarity.qdist2(col("v"), col("cv"))
        emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
          .crossJoin(cent)
          .withColumn("_cscore", Similarity.qdot(col("v"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cid"), qd2.as("d2")),
            struct(col("_cscore"), -col("cid"))).as("_a"))
          .select(col("_a.cid").as("cluster"), col("_a.d2").as("d2"))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"),
            floor(avg(col("d2"))).cast("long").as("mean_d2"))
      },
      Some(seedAssignCtes + """
        |SELECT cid AS cluster,
        |       CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(floor(avg(d2)) AS BIGINT) AS mean_d2
        |FROM assign GROUP BY 1""".stripMargin)),

    Q("ann_sq8_quantize",
      // Scalar (SQ8) codec — PQ's standard companion: per-dim min/max
      // calibration (ONE posexplode + dim-keyed agg, dim-bounded collect
      // re-entering as literal arrays — the driver-held-model pattern),
      // then map-only byte encoding with integer-exact codes and error
      // sums (div truncation, span>=1 guard). codes_str dodges the
      // comparator's array allergy; both cal CTEs MATERIALIZED (each is
      // referenced twice — r9-s2 rule a).
      (s, d) => Similarity.sq8Quantize(Tables.embeddings(s, d), "vec_id", "embedding"),
      Some("""WITH q AS MATERIALIZED (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT i, min(v[i]) AS mn, greatest(1, max(v[i]) - min(v[i])) AS sp
        |  FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
        |  GROUP BY 1),
        |cal AS MATERIALIZED (
        |  SELECT list(mn ORDER BY i) AS mnl, list(sp ORDER BY i) AS spl FROM st),
        |enc AS (
        |  SELECT vec_id,
        |         list_transform(range(1, 65), i -> (v[i] - mnl[i]) * 255 // spl[i]) AS cds,
        |         list_transform(range(1, 65), i -> v[i] - mnl[i]) AS dd
        |  FROM q CROSS JOIN cal)
        |SELECT vec_id, array_to_string(cds, ',') AS codes_str,
        |       CAST(list_sum(list_transform(range(1, 65),
        |              i -> abs(dd[i] - cds[i] * spl[i] // 255))) AS BIGINT)
        |         AS sum_abs_err_milli
        |FROM enc CROSS JOIN cal""".stripMargin)),

    Q("ann_outliers",
      // Embedding OOD/noise screening: each vector's squared distance to
      // its assigned centroid, normalized by the cluster's mean — top-50
      // by the ratio. The assignment is the same broadcast argmax map
      // stage as the IVF corpus side; it feeds both the cluster means and
      // the per-vector ratio, so the compact (vec_id, cluster, d2)
      // projection is checkpointed once (round-4 rule d) and the k-row
      // means table broadcasts back. TakeOrdered for the top-50 — no
      // global sort at any corpus size.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cent = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv")))
        val qd2 = Similarity.qdist2(col("v"), col("cv"))
        val assign = emb
          .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
          .crossJoin(cent)
          .withColumn("_cscore", Similarity.qdot(col("v"), col("cv")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cid"), qd2.as("d2")),
            struct(col("_cscore"), -col("cid"))).as("_a"))
          .select(col("vec_id"), col("_a.cid").as("cluster"), col("_a.d2").as("d2"))
          .localCheckpoint(eager = false) // feeds means AND ratios (plan lint)
        val means = assign.groupBy(col("cluster"))
          .agg(floor(avg(col("d2"))).cast("long").as("mean_d2"))
        assign.join(broadcast(means), Seq("cluster"))
          .withColumn("ratio_milli", expr("d2 * 1000 div greatest(mean_d2, 1)"))
          .orderBy(col("ratio_milli").desc, col("vec_id")).limit(50)
          .select(col("vec_id"), col("cluster"), col("d2"), col("mean_d2"),
            col("ratio_milli"))
      },
      Some(seedAssignCtes + """,
        |means AS (
        |  SELECT cid, CAST(floor(avg(d2)) AS BIGINT) AS mean_d2
        |  FROM assign GROUP BY 1)
        |SELECT a.vec_id, a.cid AS cluster, a.d2, m.mean_d2,
        |       CAST(a.d2 * 1000 // greatest(m.mean_d2, 1) AS BIGINT) AS ratio_milli
        |FROM assign a JOIN means m USING (cid)
        |ORDER BY ratio_milli DESC, a.vec_id LIMIT 50""".stripMargin)),

    Q("ann_diversity",
      // Per-label embedding diversity: mean pairwise squared distance via
      // the O(N) identity (N·Σ||x||² − ||Σx||²) — one bounded (label, dim)
      // aggregation, no pairs at any corpus size. The oracle computes the
      // same integers from per-dim sums.
      (s, d) => Similarity.diversityStats(Tables.embeddings(s, d),
        col("label").cast("long"), col("embedding"))
        .withColumnRenamed("group_id", "label"),
      Some("""WITH quant AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |a AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(list_sum(list_transform(range(1,65), i -> v[i]*v[i]))) AS BIGINT) AS ssq
        |  FROM quant GROUP BY 1),
        |b AS (
        |  SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS si
        |  FROM quant, range(1, 65) t(i) GROUP BY 1, 2),
        |c AS (SELECT label, CAST(sum(si*si) AS BIGINT) AS ssum FROM b GROUP BY 1)
        |SELECT a.label, a.n,
        |       CAST(a.ssq // a.n AS BIGINT) AS mean_sq_norm,
        |       CAST((a.n * a.ssq - c.ssum) // greatest(a.n * (a.n - 1) // 2, 1) AS BIGINT)
        |         AS mean_pair_d2
        |FROM a JOIN c USING (label)""".stripMargin)),

    Q("ann_ivf_kmeans",
      // Production centroid path: one deterministic Lloyd refinement of the
      // first-4 seeds, then the same IVF probe/re-rank — the oracle mirrors
      // the full iteration (argmax assignment, element-wise floor(avg+0.5)
      // means, empty-cluster fallback) in SQL.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopKArrays(emb, emb.filter(col("vec_id") < 5),
            Similarity.kmeansCentroidArrays(emb, k = 4, iterations = 1),
            k = 10, nprobe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"), col("cluster"))
      },
      Some(ivfKmeansOracle)),

    Q("ann_ivf_persisted",
      // Training-then-serving as deployed: the SAME Lloyd training as
      // ann_ivf_kmeans, but the centroids are COMMITTED to a versioned
      // parquet model store and the ranking runs against the
      // persisted-then-RELOADED artifact — pinning that the store
      // round-trips the model bit-exactly (the oracle is the identical
      // training+ranking SQL; any serialization drift would hash-mismatch).
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val dir = java.nio.file.Files.createTempDirectory("graft-models").toString
        val store = new graft.state.ModelStore(s, dir)
        store.trainIvf("emb", emb, k = 4, iterations = 1)
        Similarity.ivfTopKArrays(emb, emb.filter(col("vec_id") < 5),
            store.loadCentroids("emb"), k = 10, nprobe = 2)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"), col("cluster"))
      },
      Some(ivfKmeansOracle)),

    Q("ann_label_purity",
      // Cluster-bounded k-NN label-purity audit (mislabel screening): each
      // vector's 10 nearest within-cell neighbours vote on its label;
      // purity under 50% flags the row. Neighbour labels ride the bounded
      // top-k aggregate as tags — no corpus join-back.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // centroids = ceil(sqrt N): the single-level optimum the operator
        // scaladoc derives — the query self-scales with the corpus (the
        // count is a parquet-metadata read, not a scan). Threshold at the
        // 10-class chance level: the synthetic labels correlate with
        // geometry (same-label mean dot 6× diff-label) but only weakly,
        // so "suspect" = below-chance purity.
        val cents = math.ceil(math.sqrt(emb.count().toDouble)).toInt
        Similarity.knnLabelAudit(emb, k = 10, numCentroids = cents,
          minPurityPpm = 100000L)
      },
      // The assign CTE replays the operator's SIZE DISPATCH: at corpus ≤
      // smallCorpusCap the operator's fused/flat paths are the exact flat
      // argmax (assign1); above the cap the registry's C = ceil(√N) is
      // always ≥ twoLevelCells (√8193 ≈ 91 > 32), so the operator routes
      // through the two-level hierarchy (assign2: supers = first ceil(√C)
      // cells, cells routed to supers, vectors routed super-then-cell,
      // every tie to the lowest id). Both branches stay in the SQL so the
      // oracle is correct at ANY scale factor, not just the gate's.
      Some(s"""WITH quant AS MATERIALIZED (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |cent AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM quant
        |         WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
        |assign1 AS (
        |  SELECT vec_id, label, cid, v FROM (
        |    SELECT q.vec_id, q.label, c.cid, q.v,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c
        |    WHERE (SELECT count(*) FROM quant) <= ${Similarity.smallCorpusCap}
        |       OR (SELECT count(*) FROM cent) < ${Similarity.twoLevelCellsDefault}) WHERE rn = 1),
        |sup AS MATERIALIZED (
        |  SELECT cid AS scid, cv AS scv FROM cent
        |  WHERE cid < (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) FROM cent)),
        |cellr AS MATERIALIZED (
        |  SELECT cid, cv, scid FROM (
        |    SELECT c.cid, c.cv, s.scid,
        |           row_number() OVER (PARTITION BY c.cid ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> c.cv[i]*s.scv[i])) AS BIGINT) DESC, s.scid) AS rn
        |    FROM cent c CROSS JOIN sup s) WHERE rn = 1),
        |vsup AS (
        |  SELECT vec_id, label, v, scid FROM (
        |    SELECT q.vec_id, q.label, q.v, s.scid,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*s.scv[i])) AS BIGINT) DESC, s.scid) AS rn
        |    FROM quant q CROSS JOIN sup s
        |    WHERE (SELECT count(*) FROM quant) > ${Similarity.smallCorpusCap}
        |      AND (SELECT count(*) FROM cent) >= ${Similarity.twoLevelCellsDefault}) WHERE rn = 1),
        |assign2 AS (
        |  SELECT vec_id, label, cid, v FROM (
        |    SELECT a.vec_id, a.label, c.cid, a.v,
        |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM vsup a JOIN cellr c ON c.scid = a.scid) WHERE rn = 1),
        |assign AS MATERIALIZED (
        |  SELECT * FROM assign1 UNION ALL SELECT * FROM assign2),
        |scored AS (
        |  SELECT a.vec_id AS query_id, a.label AS q_label, b.vec_id, b.label AS n_label,
        |         CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i])) AS BIGINT) AS score
        |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
        |top AS (
        |  SELECT query_id, q_label, n_label FROM (
        |    SELECT query_id, q_label, n_label,
        |           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 10)
        |SELECT query_id AS vec_id, q_label AS label,
        |       CAST(count(*) AS BIGINT) AS n_nbrs,
        |       CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
        |       CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS purity_ppm,
        |       sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) * 1000000
        |            // count(*) < 100000 AS suspect
        |FROM top GROUP BY 1, 2""".stripMargin)),

    Q("ann_hard_negatives",
      // Hard-negative mining: per query, the 10 closest corpus vectors with
      // a DIFFERENT label — contrastive-training pair generation. Broadcast
      // queries, one corpus stream, bounded top-k aggregate.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5), 10)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"), col("neg_label"))
      },
      Some("""WITH quant AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id, c.label AS neg_label,
        |         CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.v[i])) AS BIGINT) AS score
        |  FROM quant q CROSS JOIN quant c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id AND q.label <> c.label),
        |ranked AS (
        |  SELECT query_id, vec_id, score, neg_label,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, score, neg_label
        |FROM ranked WHERE rank <= 10""".stripMargin)),

    Q("ann_integrity",
      // Embedding-store integrity audit: per-label dim violations, zero
      // vectors, quantized-norm² range, and doc-pairing orphans — the
      // data-quality gate before any ANN/dedup pass trusts the table.
      (s, d) => Similarity.integrityAudit(Tables.embeddings(s, d),
        Tables.documents(s, d), "vec_id", "doc_id", "embedding", "label", 64),
      Some("""WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(len(embedding) AS BIGINT) AS dims,
        |         CAST(coalesce(list_sum(list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)
        |              * CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))), 0) AS BIGINT) AS norm2
        |  FROM embeddings),
        |j AS (
        |  SELECT q.*, d.doc_id FROM q
        |  LEFT JOIN documents d ON d.doc_id = q.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(CASE WHEN dims <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_bad,
        |       CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       min(norm2) AS min_norm2, max(norm2) AS max_norm2,
        |       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unpaired
        |FROM j GROUP BY 1""".stripMargin))
  )

  /** Shared by ann_ivf_kmeans and ann_ivf_persisted: one Lloyd round on the
    * first-4 seed, then IVF probe/re-rank — all in portable SQL. */
  private lazy val ivfKmeansOracle: String = """WITH quant AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |seed AS (SELECT vec_id AS cid, v AS cv FROM quant WHERE vec_id < 4),
        |a1 AS (
        |  SELECT vec_id, cid, v FROM (
        |    SELECT q.vec_id, c.cid, q.v,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN seed c) WHERE rn = 1),
        |m1 AS (
        |  SELECT cid, list(el ORDER BY i) AS cv FROM (
        |    SELECT cid, i, CAST(floor(avg(v[i]) + 0.5) AS BIGINT) AS el
        |    FROM a1, range(1, 65) t(i) GROUP BY cid, i)
        |  GROUP BY cid),
        |cent AS (
        |  SELECT s.cid, coalesce(m.cv, s.cv) AS cv FROM seed s LEFT JOIN m1 m USING (cid)),
        |a2 AS (
        |  SELECT vec_id, cid, v FROM (
        |    SELECT q.vec_id, c.cid, q.v,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cid, qv FROM (
        |    SELECT q.vec_id AS query_id, c.cid, q.v AS qv,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(range(1,65), i -> q.v[i]*c.cv[i])) AS BIGINT) DESC, c.cid) AS rn
        |    FROM quant q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.query_id, a.vec_id, a.cid,
        |         CAST(list_sum(list_transform(range(1,65), i -> p.qv[i]*a.v[i])) AS BIGINT) AS score
        |  FROM probes p JOIN a2 a ON a.cid = p.cid
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cid, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, score, cid AS cluster
        |FROM ranked WHERE rank <= 10""".stripMargin

  /** DuckDB LSH bucket expression over quantized vector column `v` with
    * `planes` hyperplanes (mirrors Similarity.lshKey / hyperplane). */
  private def duckBucketExpr(planes: Int): String = {
    val planeDot = (j: Int) =>
      s"CAST(list_sum(list_transform(range(1, 65), i -> v[i] * (((i-1)*31 + $j*17) % 101 - 50))) AS BIGINT)"
    (0 until planes).map(j =>
      s"CASE WHEN ${planeDot(j)} >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
  }

  def embDedup: Seq[Q] = Seq(
    Q("dedup_embedding",
      (s, d) => Similarity.embeddingNearDup(Tables.embeddings(s, d), minCos = 0.2),
      Some {
        s"""WITH keyed AS (
          |  SELECT vec_id,
          |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          |  FROM embeddings),
          |scored0 AS (
          |  SELECT vec_id, v, CAST(${duckBucketExpr(12)} AS BIGINT) AS bucket,
          |         CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS BIGINT) AS n2
          |  FROM keyed),
          |pairs AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
          |         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS score,
          |         a.n2 AS na2, b.n2 AS nb2
          |  FROM scored0 a JOIN scored0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
          |SELECT id_a, id_b, score,
          |       CAST(floor(score * 1000 / sqrt(CAST(na2 * nb2 AS DOUBLE))) AS BIGINT) AS cos_milli,
          |       bucket
          |FROM pairs
          |WHERE score > 0.2 * sqrt(CAST(na2 * nb2 AS DOUBLE))""".stripMargin
      }),

    Q("dedup_embedding_mb",
      (s, d) => Similarity.embeddingNearDupMultiband(Tables.embeddings(s, d),
        minCos = 0.2, bands = 3, planesPerBand = 8),
      Some {
        // Per-band bucket: plane index J = band*8 + j, bit position j.
        def bandExpr(b: Int): String = {
          val planeDot = (jj: Int) =>
            s"CAST(list_sum(list_transform(range(1, 65), i -> v[i] * (((i-1)*31 + $jj*17) % 101 - 50))) AS BIGINT)"
          (0 until 8).map(j =>
            s"CASE WHEN ${planeDot(b * 8 + j)} >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
        }
        val bandSelects = (0 until 3).map(b =>
          s"SELECT vec_id, $b AS band, CAST(${bandExpr(b)} AS BIGINT) AS bucket FROM keyed")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH keyed AS (
          |  SELECT vec_id,
          |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          |  FROM embeddings),
          |bb AS (
          |  $bandSelects),
          |pr AS (
          |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          |  FROM bb a JOIN bb b
          |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
          |n2t AS (
          |  SELECT vec_id, v,
          |         CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS BIGINT) AS n2
          |  FROM keyed),
          |scored AS (
          |  SELECT p.id_a, p.id_b,
          |         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS score,
          |         a.n2 AS na2, b.n2 AS nb2
          |  FROM pr p
          |  JOIN n2t a ON a.vec_id = p.id_a
          |  JOIN n2t b ON b.vec_id = p.id_b)
          |SELECT id_a, id_b, score,
          |       CAST(floor(score * 1000 / sqrt(CAST(na2 * nb2 AS DOUBLE))) AS BIGINT) AS cos_milli
          |FROM scored
          |WHERE score > 0.2 * sqrt(CAST(na2 * nb2 AS DOUBLE))""".stripMargin
      }),

    Q("dedup_semantic",
      // SemDeDup (Abbas et al. 2023): k-means cells + within-cell cosine
      // pruning, keeping the example LEAST similar to its centroid. The
      // oracle mirrors the full pipeline — seeded cells, argmax
      // assignment, centroid-cosine rank, within-cell pair threshold,
      // dominance anti-join — level for level in integer/IEEE math.
      (s, d) => Similarity.semanticDedup(Tables.embeddings(s, d),
        minCos = 0.2, numCells = 16, iterations = 0),
      Some {
        val dot = (a: String, b: String) =>
          s"CAST(list_sum(list_transform(range(1,65), i -> $a[i]*$b[i])) AS BIGINT)"
        s"""WITH quant AS (
          |  SELECT vec_id,
          |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
          |  FROM embeddings),
          |cells AS (
          |  SELECT vec_id AS cid, v AS cv, ${dot("v", "v")} AS cn2
          |  FROM quant WHERE vec_id < 16),
          |assign AS (
          |  SELECT vec_id, cid, v, cn2, cdot FROM (
          |    SELECT q.vec_id, c.cid, q.v, c.cn2,
          |           ${dot("q.v", "c.cv")} AS cdot,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             ${dot("q.v", "c.cv")} DESC, c.cid) AS rn
          |    FROM quant q CROSS JOIN cells c) WHERE rn = 1),
          |ranked AS (
          |  SELECT vec_id, cid, v, n2,
          |         CAST(floor(cdot * 1000 / sqrt(CAST(n2 AS DOUBLE) * cn2)) AS BIGINT) AS c_milli
          |  FROM (SELECT vec_id, cid, v, cn2, cdot, ${dot("v", "v")} AS n2
          |        FROM assign)),
          |dropped AS (
          |  SELECT a.vec_id, true AS dropped
          |  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.vec_id <> b.vec_id
          |  WHERE ${dot("a.v", "b.v")} > 0.2 * sqrt(CAST(a.n2 AS DOUBLE) * b.n2)
          |    AND (b.c_milli < a.c_milli
          |         OR (b.c_milli = a.c_milli AND b.vec_id < a.vec_id))
          |  GROUP BY 1)
          |SELECT r.vec_id, r.cid AS cluster, r.c_milli,
          |       coalesce(d.dropped, false) AS dropped
          |FROM ranked r LEFT JOIN dropped d USING (vec_id)""".stripMargin
      })
  )

  def multimodal: Seq[Q] = Seq(
    Q("mm_decode_meta",
      // The decode contract end-to-end: binary media column + typed
      // metadata struct (stub decoder — deterministic pseudo-dimensions
      // derived from the payload hash; a real codec swaps in behind the
      // same binary→struct column shape).
      (s, d) => {
        val media = Multimodal.asMedia(Tables.documents(s, d), "text", "image")
        Multimodal.decodeMeta(media)
          .select(col("doc_id"), col("media_type"),
            col("media_bytes").cast("long").as("media_bytes"),
            col("width"), col("height"), col("duration_s"))
      },
      Some("""WITH h60 AS (
        |  SELECT doc_id, strlen(text) AS media_bytes,
        |         CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, 'image' AS media_type, media_bytes,
        |       h % 1024 + 64 AS width,
        |       (h // 1024) % 1024 + 64 AS height,
        |       (h // 1048576) % 600 AS duration_s
        |FROM h60""".stripMargin)),

    Q("mm_resize",
      (s, d) => {
        val media = Multimodal.asMedia(Tables.documents(s, d), "text", "image")
        Multimodal.resizeStub(media, factor = 2)
          .select(col("doc_id"), col("new_width"), col("new_height"),
            col("resized_bytes"), col("resized_hash"))
      },
      Some("""WITH h60 AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |         CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(floor((h % 1024 + 64) / 2.0) AS BIGINT) AS new_width,
        |       CAST(floor(((h // 1024) % 1024 + 64) / 2.0) AS BIGINT) AS new_height,
        |       CAST(ceil(len / 2.0) AS BIGINT) AS resized_bytes,
        |       sha256(substring(hex(encode(text)), 1, 2 * CAST(ceil(len / 2.0) AS INTEGER)))
        |         AS resized_hash
        |FROM h60""".stripMargin)),

    Q("mm_real_decode",
      // REAL javax.imageio decode, oracle-checked: executors synthesize
      // deterministic PNGs (plus every 7th id as an undecodable text
      // payload), realDecodeMeta parses the actual headers, and DuckDB —
      // which cannot decode images — just replays the generative formula.
      // A decode that misreads a header lands off the formula and fails
      // the hash compare.
      (s, d) => {
        import s.implicits._
        // A fifth of the corpus: enough rows to prove executor-side decode
        // at every sf, without PNG synthesis dominating the bench.
        val media = Multimodal.syntheticImages(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        Multimodal.realDecodeMeta(media).toDF()
          .select(col("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("format"), col("ok"))
      },
      Some("""SELECT doc_id,
        |       CASE WHEN doc_id % 7 = 0 THEN -1 ELSE 16 + doc_id % 32 END AS width,
        |       CASE WHEN doc_id % 7 = 0 THEN -1 ELSE 16 + doc_id % 24 END AS height,
        |       CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'png' END AS format,
        |       doc_id % 7 <> 0 AS ok
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin)),

    Q("mm_phash_dedup",
      // Perceptual-hash image dedup over REAL decodes: aHash every
      // decodable synthetic PNG (see Multimodal.realPhash — integer-exact
      // grayscale + 8x8 block means + global-mean threshold), then group
      // identical hashes. DuckDB replays the whole hash from the pixel
      // formula without decoding a single image: the per-pixel grid is
      // unnested from range(w*h), grayscaled, block-assigned with the same
      // x*8 div w partition, and string_agg'd in bit order. Any divergence
      // in channel order, rounding, or block boundaries fails the gate.
      (s, d) => {
        import s.implicits._
        val media = Multimodal.syntheticImages(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        Multimodal.realPhash(media).toDF()
          .filter(col("ok"))
          .groupBy(col("phash"))
          .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("min_doc"))
      },
      Some("""WITH mi AS (
        |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + doc_id % 24 AS h
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
        |px AS (
        |  SELECT doc_id, w, h, i // h AS x, i % h AS y,
        |         ((i // h) * 31 + (i % h) * 17 + doc_id) % 16777216 AS v
        |  FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM mi)),
        |cells AS (
        |  SELECT doc_id, (y * 8) // h AS gy, (x * 8) // w AS gx,
        |         CAST(sum(((v // 65536) % 256 * 299 + (v // 256) % 256 * 587
        |                   + (v % 256) * 114) // 1000) AS BIGINT) AS s,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM px GROUP BY 1, 2, 3),
        |cmeans AS (SELECT doc_id, gy, gx, s // c AS m FROM cells),
        |gmean AS (SELECT doc_id, CAST(sum(m) AS BIGINT) // 64 AS gm
        |          FROM cmeans GROUP BY 1),
        |ph AS (
        |  SELECT c.doc_id,
        |         string_agg(CASE WHEN c.m > g.gm THEN '1' ELSE '0' END, ''
        |                    ORDER BY c.gy * 8 + c.gx) AS phash
        |  FROM cmeans c JOIN gmean g USING (doc_id) GROUP BY 1)
        |SELECT phash, CAST(count(*) AS BIGINT) AS n_images,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM ph GROUP BY 1""".stripMargin)),

    Q("mm_real_audio",
      // REAL javax.sound.sampled decode, oracle-checked exactly like
      // mm_real_decode: executors synthesize deterministic PCM WAVs (every
      // 7th id an undecodable text payload), realDecodeAudio parses the
      // actual RIFF headers AND scans the actual frames for the peak
      // amplitude, and DuckDB — which cannot decode audio — replays the
      // generative formula arithmetically. A decode that misreads the
      // header, the endianness, or any sample lands off the formula and
      // fails the hash compare.
      (s, d) => {
        import s.implicits._
        val media = Multimodal.syntheticWavs(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        Multimodal.realDecodeAudio(media).toDF()
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
        |idx AS (SELECT unnest(range(0, 192)) AS i),
        |pk AS (
        |  SELECT doc_id, max(abs((doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
        |  FROM ids, idx WHERE i < 64 + doc_id % 128 GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CASE WHEN d.doc_id % 7 = 0 THEN -1 ELSE 8000 + (d.doc_id % 3) * 4000 END AS sample_rate,
        |       CASE WHEN d.doc_id % 7 = 0 THEN -1 ELSE 1 END AS channels,
        |       CASE WHEN d.doc_id % 7 = 0 THEN -1 ELSE 16 END AS bits,
        |       CASE WHEN d.doc_id % 7 = 0 THEN -1 ELSE 64 + d.doc_id % 128 END AS n_samples,
        |       CASE WHEN d.doc_id % 7 = 0 THEN -1 ELSE p.peak END AS peak_abs,
        |       d.doc_id % 7 <> 0 AS ok
        |FROM ids d JOIN pk p USING (doc_id)""".stripMargin)),

    Q("mm_audio_dedup",
      // Energy-envelope audio fingerprint over REAL decodes (the audio
      // twin of mm_phash_dedup — see Multimodal.realAudioFingerprint):
      // 16-window mean |amplitude| thresholded against the global mean,
      // grouped. DuckDB replays the fingerprint from the generative WAV
      // formula without decoding audio.
      (s, d) => {
        import s.implicits._
        val media = Multimodal.syntheticWavs(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        Multimodal.realAudioFingerprint(media).toDF()
          .filter(col("ok"))
          .groupBy(col("afp"))
          .agg(count(lit(1)).as("n_clips"), min(col("doc_id")).as("min_doc"))
      },
      Some("""WITH aids AS (
        |  SELECT doc_id, 64 + doc_id % 128 AS n
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
        |aidx AS (SELECT unnest(range(0, 192)) AS i),
        |asm AS (
        |  SELECT doc_id, (i * 16) // n AS w,
        |         abs((doc_id * 31 + i * 17) % 2003 - 1001) AS a
        |  FROM aids JOIN aidx ON aidx.i < aids.n),
        |awm AS (SELECT doc_id, w,
        |               CAST(sum(a) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
        |        FROM asm GROUP BY 1, 2),
        |agm AS (SELECT doc_id, CAST(sum(m) AS BIGINT) // 16 AS g
        |        FROM awm GROUP BY 1),
        |afp AS (
        |  SELECT w.doc_id,
        |         string_agg(CASE WHEN w.m > g.g THEN '1' ELSE '0' END, ''
        |                    ORDER BY w.w) AS afp
        |  FROM awm w JOIN agm g USING (doc_id) GROUP BY 1)
        |SELECT afp, CAST(count(*) AS BIGINT) AS n_clips,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM afp GROUP BY 1""".stripMargin)),

    Q("mm_frame_sample",
      (s, d) => {
        val media = Multimodal.asMedia(Tables.documents(s, d), "text", "image")
        Multimodal.sampleFrames(media, n = 4, frameBytes = 32)
          .select(col("doc_id"), col("frame_index").cast("long").as("frame_index"),
            col("frame_offset").cast("long").as("frame_offset"),
            col("frame_hash"))
      },
      // Offsets in BYTES (strlen) and frames sliced from the hex encoding —
      // byte-exact for any payload, unlike char-based substring over text.
      Some("""WITH f AS (
        |  SELECT doc_id, i, hex(encode(text)) AS hx, strlen(text) AS len,
        |         CAST(floor(i * greatest(strlen(text) - 32, 0) / 3.0) AS BIGINT) AS off
        |  FROM documents, range(0, 4) t(i))
        |SELECT doc_id, i AS frame_index, off AS frame_offset,
        |       sha256(substring(hx, CAST(2*off + 1 AS INTEGER), 64)) AS frame_hash
        |FROM f WHERE off + 32 <= len""".stripMargin))
  )

  def tpch: Seq[Q] = Seq(
    Q("q_monthly_revenue",
      // Time-series rollup: monthly order revenue with a running cumulative
      // sum — the window partitions by priority so the frame never spans the
      // whole table in one partition.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = Tables.orders(s, d)
          .groupBy(col("o_orderpriority"),
            date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
            count(lit(1)).as("orders"))
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        monthly.withColumn("cumulative_cents", sum(col("revenue_cents")).over(w))
      },
      Some(s"""SELECT o_orderpriority, month, revenue_cents, orders,
        |       CAST(sum(revenue_cents) OVER (
        |         PARTITION BY o_orderpriority ORDER BY month
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_cents
        |FROM (
        |  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS revenue_cents,
        |         count(*) AS orders
        |  FROM orders GROUP BY 1, 2)""".stripMargin)),

    Q("q1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")))).as("sum_charge_cents"),
          count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        |       CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
        |       CAST(sum(${centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS sum_disc_cents,
        |       CAST(sum(${centsSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}) AS BIGINT) AS sum_charge_cents,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin)),

    Q("q3_top_revenue_orders",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("o_orderdate").cast("string").as("o_orderdate"),
            col("revenue_cents"))
      },
      Some(s"""SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
        |       CAST(sum(${centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("q5_regional_revenue",
      (s, d) => {
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        val n = Tables.nation(s, d)
        val dim = broadcast(n.join(r, col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(dim, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
      },
      Some(s"""SELECT n_name,
        |       CAST(sum(${centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin))
  )

  def timeWindows: Seq[Q] = Seq(
    Q("t9_tumbling_counts",
      (s, d) => TimeWindows.tumblingCounts(Tables.events(s, d), "ts", "event_type", "1 hour")
        .select(col("window_start").cast("string").as("window_start"),
          col("event_type"), col("events")),
      Some("""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
        |       event_type, count(*) AS events
        |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("t9_sliding_counts",
      (s, d) => TimeWindows.slidingCounts(Tables.events(s, d), "ts", "event_type",
          "1 hour", "15 minutes")
        .select(col("window_start").cast("string").as("window_start"),
          col("event_type"), col("events")),
      // Each event belongs to the 4 fifteen-minute-grid windows covering it
      // (both engines align the grid to midnight multiples).
      Some("""SELECT CAST(ws AS VARCHAR) AS window_start, event_type, count(*) AS events
        |FROM (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - i * INTERVAL 15 MINUTE AS ws,
        |         event_type
        |  FROM events, range(0, 4) t(i))
        |GROUP BY 1, 2""".stripMargin)),

    Q("t9_session_native",
      // Native session_window (streaming-capable) checked against a
      // gaps-and-islands oracle: session start = min ts, end = max ts +
      // gap, new session when gap > 1800 s STRICTLY — session_window
      // MERGES an event landing exactly on the previous window's end
      // (verified empirically; an >= here would diverge on exact-gap ties).
      (s, d) => TimeWindows.nativeSessions(Tables.events(s, d), "ts", "user_id",
          "30 minutes")
        .select(col("user_id"),
          tsSec(col("session_start")).as("session_start"),
          tsSec(col("session_end")).as("session_end"), col("events")),
      Some("""WITH gaps AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM gaps)
        |SELECT user_id,
        |       CAST(date_trunc('second', min(ts)) AS VARCHAR) AS session_start,
        |       CAST(date_trunc('second', max(ts) + INTERVAL 1800 SECOND) AS VARCHAR) AS session_end,
        |       count(*) AS events
        |FROM sess GROUP BY user_id, session_id""".stripMargin)),

    Q("t9_session_windows",
      (s, d) => TimeWindows.sessionStats(
          TimeWindows.sessionize(Tables.events(s, d), "ts", "user_id", gapSeconds = 1800,
            tieBreakCols = Seq("event_id")),
          "ts", "user_id")
        .select(col("user_id"), col("session_id"), col("events"),
          col("start_epoch"), col("duration_s")),
      Some("""WITH gaps AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN CAST(floor(date_part('epoch', ts)) AS BIGINT)
        |                   - lag(CAST(floor(date_part('epoch', ts)) AS BIGINT))
        |                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
        |              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM gaps)
        |SELECT user_id, session_id, count(*) AS events,
        |       min(CAST(floor(date_part('epoch', ts)) AS BIGINT)) AS start_epoch,
        |       max(CAST(floor(date_part('epoch', ts)) AS BIGINT))
        |         - min(CAST(floor(date_part('epoch', ts)) AS BIGINT)) AS duration_s
        |FROM sess GROUP BY 1, 2""".stripMargin))
  )

  /** Pipeline extensions beyond the reference: cardinality sketching,
    * point-in-time as-of join, deterministic sampling/splitting, TF-IDF
    * term salience, audio-style hop-window framing. */
  def pipeline: Seq[Q] = Seq(
    Q("llm_curation_report",
      // The pipeline's final gate: exact-dup survivorship, C4 quality keep,
      // Gopher repetition thresholds and the PII density gate composed
      // into keep + the FIRST failing reason (fixed precedence: duplicate
      // > quality > repetition > pii). Quality and repetition signals come
      // from ONE corpus pass (TextOps.qualityRepetitionFeatures — separate
      // operators would tokenize twice and duplicate the Generate
      // barrier); the dup-keeper set is the dedup_exact aggregate joined
      // back on doc_id; the PII leg is a map-only regex-count pass over
      // the shared piiRaw injection (compliance gates DROP PII-dense docs
      // rather than redact them — redaction is llm_pii_redact's job). Slim
      // per-doc signal tables co-shuffle on doc_id at any corpus size.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keepers = DedupOps.exactDedupSurvivors(docs, "doc_id", "text")
          .select(col("doc_id"), lit(1L).as("_surv"))
        val sig = TextOps.qualityRepetitionFeatures(docs, "doc_id", "text")
          .withColumn("q_keep",
            col("n_words") >= 10 &&
            col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
            col("punct_ratio") < 0.2)
          .withColumn("rep_ok",
            col("dup_token_ppm") < 500000 &&
            col("top_bigram_ppm") < 400000 && col("dup_trigram_ppm") < 300000)
          .select(col("doc_id"), col("q_keep"), col("rep_ok"))
        val pii = piiRaw(docs).select(col("doc_id"),
          (TextOps.guardedCount(col("raw_text"), "@", TextOps.EmailRe) +
            TextOps.guardedCount(col("raw_text"), "-", TextOps.PhoneRe) +
            TextOps.guardedCount(col("raw_text"), ".", TextOps.Ipv4Re) +
            TextOps.guardedCount(col("raw_text"), ":", TextOps.Ipv6Re) +
            regexp_count(col("raw_text"), lit(TextOps.IbanRe)) +
            TextOps.guardedCount(col("raw_text"), "-", TextOps.SsnRe))
            .cast("long").as("n_pii"))
        sig.join(keepers, Seq("doc_id"), "left")
          .join(pii, Seq("doc_id"))
          .withColumn("is_dup", col("_surv").isNull)
          .withColumn("pii_ok", col("n_pii") < 2)
          .withColumn("keep",
            !col("is_dup") && col("q_keep") && col("rep_ok") && col("pii_ok"))
          .withColumn("reason",
            when(col("is_dup"), "duplicate")
              .when(!col("q_keep"), "quality")
              .when(!col("rep_ok"), "repetition")
              .when(!col("pii_ok"), "pii")
              .otherwise("kept"))
          .select(col("doc_id"), col("is_dup"), col("q_keep"), col("rep_ok"),
            col("n_pii"), col("pii_ok"), col("keep"), col("reason"))
      },
      Some(withCtes(normDocsCte, repGramCtes, piiRawCte,
        s"""psig AS (
          |  SELECT doc_id,
          |         CAST(len(regexp_extract_all(raw_text, '${TextOps.EmailRe}'))
          |            + len(regexp_extract_all(raw_text, '${TextOps.PhoneRe}'))
          |            + len(regexp_extract_all(raw_text, '${TextOps.Ipv4Re}'))
          |            + len(regexp_extract_all(raw_text, '${TextOps.Ipv6Re}'))
          |            + len(regexp_extract_all(raw_text, '${TextOps.IbanRe}'))
          |            + len(regexp_extract_all(raw_text, '${TextOps.SsnRe}')) AS BIGINT) AS n_pii
          |  FROM pii_raw)""".stripMargin,
        """keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
          |qsig AS (
          |  SELECT doc_id,
          |         len(toks) >= 10
          |         AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) >= 2.0
          |         AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) <= 12.0
          |         AND (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |              / length(text)) < 0.2 AS q_keep
          |  FROM tok_docs),
          |rsig AS (
          |  SELECT t.doc_id,
          |         (CASE WHEN coalesce(a.nt, 0) > 0
          |               THEN ((a.nt - a.nd) * 1000000) // a.nt ELSE 0 END) < 500000
          |         AND (CASE WHEN a.maxbi IS NOT NULL
          |              THEN (a.maxbi * 2000000) // a.nt ELSE 0 END) < 400000
          |         AND (CASE WHEN a.trirep IS NOT NULL
          |              THEN (a.trirep * 3000000) // a.nt ELSE 0 END) < 300000 AS rep_ok
          |  FROM tok_docs t LEFT JOIN agg a USING (doc_id)),
          |base AS (
          |  SELECT q.doc_id,
          |         q.doc_id NOT IN (SELECT doc_id FROM keepers) AS is_dup,
          |         q.q_keep, r.rep_ok, p.n_pii, p.n_pii < 2 AS pii_ok
          |  FROM qsig q JOIN rsig r USING (doc_id) JOIN psig p USING (doc_id))""".stripMargin)(
        """SELECT doc_id, is_dup, q_keep, rep_ok, n_pii, pii_ok,
          |       (NOT is_dup AND q_keep AND rep_ok AND pii_ok) AS keep,
          |       CASE WHEN is_dup THEN 'duplicate' WHEN NOT q_keep THEN 'quality'
          |            WHEN NOT rep_ok THEN 'repetition'
          |            WHEN NOT pii_ok THEN 'pii' ELSE 'kept' END AS reason
          |FROM base""".stripMargin))),

    Q("sk_kmv_distinct",
      // KMV distinct-user estimate per event type via the native
      // TypedImperativeAggregate (bounded k-long state, map-side partials).
      // 150 true distincts per group > k=64, so the (k-1)/R_k estimator
      // branch is live (fewer than k falls back to the exact set size).
      (s, d) => Sketches.kmvDistinct(Tables.events(s, d), Seq("event_type"),
          DedupOps.hash60(col("user_id").cast("string")), k = 64)
        .select(col("event_type"), col("n_mins"), col("distinct_est")),
      // 1152921504606846976 = 2^60 (the hash space). The estimator is the
      // all-integer division-first form (round-10 rule d): 2^60 // (kth //
      // 63) with a floor-1 guard — DuckDB `//` and Spark `div` both
      // truncate identically on the non-negative hash values.
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |         CAST('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
        |  FROM events),
        |r AS (
        |  SELECT event_type, hh,
        |         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT g.event_type,
        |       CAST(least(g.n, 64) AS INTEGER) AS n_mins,
        |       CAST(CASE WHEN g.n < 64 THEN g.n
        |                 ELSE 1152921504606846976 // greatest(k.kth // 63, 1) END AS BIGINT) AS distinct_est
        |FROM (SELECT event_type, max(n) AS n FROM r GROUP BY 1) g
        |LEFT JOIN (SELECT event_type, hh AS kth FROM r WHERE rn = 64) k
        |  USING (event_type)""".stripMargin)),

    Q("sk_quantile_sample",
      // Quantile estimates from the deterministic bottom-k-by-hash sample
      // (see Sketches.quantileSample): mergeable bounded state, membership
      // and rank arithmetic both integer-deterministic, so the oracle
      // reproduces the ESTIMATE exactly (ORDER BY hash LIMIT k is the same
      // sample; rank selection is the same row).
      (s, d) => Sketches.quantileSample(Tables.documents(s, d),
        length(col("text")), col("doc_id"), Seq(25, 50, 75, 90), k = 256),
      Some("""WITH pri AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS v,
        |         CAST('0x' || substr(sha256('qs:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |samp AS (SELECT doc_id, v FROM pri ORDER BY h, doc_id LIMIT 256),
        |ranked AS (
        |  SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn,
        |         count(*) OVER () AS n
        |  FROM samp)
        |SELECT CAST(q AS BIGINT) AS q, v AS value, CAST(n AS BIGINT) AS sample_n
        |FROM ranked, (VALUES (25), (50), (75), (90)) t(q)
        |WHERE rn = greatest(1, CAST(ceil(q * n / 100.0) AS BIGINT))""".stripMargin)),

    Q("j7_asof_join",
      // Point-in-time-correct lookup: each purchase joined to the user's
      // latest signup event at-or-before the purchase timestamp. The right
      // side is deduped to one row per (user, ts) first (max event_id) so
      // "the" as-of row is well-defined in both engines.
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("signup_event_id"))
        AsOf.asofJoin(purchases, signups, Seq("user_id"), "ts", "ts")
          .select(col("event_id"), col("user_id"), tsSec(col("ts")).as("ts"),
            col("asof_signup_event_id"), tsSec(col("asof_ts")).as("asof_ts"))
      },
      Some(s"""WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |su AS (
        |  SELECT user_id, ts, max(event_id) AS signup_event_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, ${tsSecSql("p.ts")} AS ts,
        |       su.signup_event_id AS asof_signup_event_id,
        |       ${tsSecSql("su.ts")} AS asof_ts
        |FROM p ASOF LEFT JOIN su ON p.user_id = su.user_id AND p.ts >= su.ts""".stripMargin)),

    Q("llm_stable_sample",
      // Content-addressed 50% sample + 10% test split: membership is a pure
      // function of doc_id (independent salts), so appending data never
      // flips an existing row between train and test.
      (s, d) => Sampling.trainTestSplit(
          Sampling.stableSample(Tables.documents(s, d), "doc_id", 500),
          "doc_id", 100)
        .select(col("doc_id"), col("split_bucket"), col("split")),
      Some("""WITH b AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(sha256('sample:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS sb,
        |         CAST('0x' || substr(sha256('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS split_bucket
        |  FROM documents)
        |SELECT doc_id, split_bucket,
        |       CASE WHEN split_bucket < 100 THEN 'test' ELSE 'train' END AS split
        |FROM b WHERE sb < 500""".stripMargin)),

    Q("llm_dsir_sample",
      // DSIR-shaped importance resampling toward the English slice:
      // hashed-bigram bucket frequencies (target vs raw, integer ppm),
      // per-doc importance points, content-addressed Bernoulli admission.
      // See TextOps.dsirResample for the scale shape and the int64
      // headroom analysis.
      (s, d) => TextOps.dsirResample(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("lang") === "en"),
      Some(withCtes(normDocsCte,
        """dsir_occ AS (
          |  SELECT t.doc_id, d.lang = 'en' AS tgt,
          |         CAST('0x' || substr(sha256(bg), 1, 15) AS BIGINT) % 1024 AS bucket
          |  FROM (SELECT doc_id,
          |               unnest(list_transform(range(len(toks) - 1),
          |                 i -> toks[i+1] || ' ' || toks[i+2])) AS bg
          |        FROM tok_docs WHERE len(toks) >= 2) t
          |  JOIN documents d USING (doc_id)),
          |dsir_db AS (
          |  SELECT doc_id, tgt, bucket, count(*) AS c FROM dsir_occ GROUP BY 1, 2, 3),
          |dsir_pb AS (
          |  SELECT bucket, CAST(sum(c) AS BIGINT) AS rc,
          |         CAST(sum(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS tc
          |  FROM dsir_db GROUP BY 1),
          |dsir_tot AS (
          |  SELECT CAST(sum(rc) AS BIGINT) AS rt, CAST(sum(tc) AS BIGINT) AS tt
          |  FROM dsir_pb),
          |dsir_wt AS (
          |  SELECT bucket,
          |         (tc * 1000000 // tt) * 1000 // ((rc * 1000000 // rt) + 1) AS ratio_pts
          |  FROM dsir_pb CROSS JOIN dsir_tot),
          |dsir_sc AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
          |         CAST(CAST(sum(c * ratio_pts) AS BIGINT) // CAST(sum(c) AS BIGINT) AS BIGINT) AS dsir_pts
          |  FROM dsir_db JOIN dsir_wt USING (bucket) GROUP BY 1)""".stripMargin)(
        """SELECT doc_id, n_feats, dsir_pts,
          |       least(1000000, dsir_pts * 400000 // 1000) AS accept_ppm,
          |       CAST('0x' || substr(sha256('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
          |         < least(1000000, dsir_pts * 400000 // 1000) AS accepted
          |FROM dsir_sc""".stripMargin))),

    Q("llm_stratified_sample",
      // Deterministic per-language quota: 50 docs per stratum drawn by
      // smallest hash (every stratum has >50 docs at sf0.01, so the rank
      // filter bites in each). Registered on the BOUNDED topk_pairs shape
      // (k pairs of state per stratum, skew-free — no row_number window);
      // the window twin is spec-pinned row-identical and the oracle
      // replays it, so the engines cross-check strategies.
      (s, d) => Sampling.stratifiedQuotaBounded(
          Tables.documents(s, d), "lang", "doc_id", 50)
        .select(col("lang"), col("doc_id"), col("draw_rank")),
      Some("""WITH h AS (
        |  SELECT lang, doc_id,
        |         CAST('0x' || substr(sha256('strat:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS INTEGER) AS draw_rank
        |  FROM h)
        |SELECT lang, doc_id, draw_rank FROM r WHERE draw_rank <= 50""".stripMargin)),

    Q("llm_tfidf_top",
      // Top-3 salient terms per document by tf·idf rank. Integer score
      // (tf·10^6 div df) sidesteps ln(): libm transcendentals are not
      // bit-identical across engines, integer division is. Document
      // frequency is a tiny vocab table → broadcast join; the shared token
      // subtree is materialized once (consumed by BOTH aggregations).
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // tf is ROW-LOCAL (all occurrences of a token within a doc live in
        // one row): the gram_counts kernel pre-counts per doc, so the old
        // corpus-scale (doc, tok) groupBy + its checkpoint job are gone —
        // tf is a map-only explode, dfreq aggregates the per-doc-distinct
        // rows (tf rows are distinct per (doc, tok) by construction, so df
        // is a plain count). GramProf both orders at sf1.0: 0.70-0.83 s vs
        // 1.02-1.41 s. Rescan over checkpoint for the shared tf subtree
        // (r12 rule d / r18 rule h: the recompute is one tokens_norm +
        // kernel pass over one parquet table).
        def tf = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextOps.gramCounts(TextOps.tokens(col("text")), 1)).as("_g"))
          .select(col("doc_id"), col("_g.s").as("tok"), col("_g.c").as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score_ppm").desc, col("tok"))
        tf.join(broadcast(dfreq), Seq("tok"))
          .withColumn("score_ppm", expr("tf * 1000000 div df"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("tok"), col("tf"), col("df"),
            col("score_ppm"))
      },
      Some(withCtes(normDocsCte)(
        """SELECT doc_id, rn, tok, tf, df, score_ppm FROM (
          |  SELECT sc.*,
          |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, tok) AS INTEGER) AS rn
          |  FROM (
          |    WITH tok2 AS (
          |      SELECT doc_id, unnest(toks) AS tok FROM tok_docs),
          |    tok3 AS (SELECT doc_id, tok FROM tok2 WHERE length(tok) > 0),
          |    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok3 GROUP BY 1, 2),
          |    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok3 GROUP BY 1)
          |    SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
          |           tf.tf * 1000000 // dfreq.df AS score_ppm
          |    FROM tf JOIN dfreq USING (tok)) sc) r
          |WHERE rn <= 3""".stripMargin))),

    Q("llm_incremental_dedup",
      // Batch-over-batch dedup: the corpus split into "yesterday" (bucket
      // < 500) and "today"; today's batch is deduped within itself (min id
      // per fingerprint) and against yesterday's committed fingerprints.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = Sampling.bucketOf(col("doc_id"), "batchsplit")
        val yesterday = docs.filter(bucket < 500)
        val seen = yesterday
          .select(TextOps.fingerprint(col("text")).as("fingerprint")).distinct()
        val (survivors, _) = DedupOps.incrementalDedup(
          docs.filter(bucket >= 500), seen, "doc_id", "text")
        survivors.select(col("doc_id"), col("fingerprint"))
      },
      Some(withCtes(normDocsCte)(
        """SELECT b2.doc_id, b2.fingerprint FROM (
          |  SELECT doc_id, substr(sha256(norm), 1, 16) AS fingerprint
          |  FROM norm_docs
          |  WHERE CAST('0x' || substr(sha256('batchsplit:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 >= 500) b2
          |JOIN (
          |  SELECT fingerprint, min(doc_id) AS doc_id
          |  FROM (SELECT doc_id, substr(sha256(norm), 1, 16) AS fingerprint
          |        FROM norm_docs
          |        WHERE CAST('0x' || substr(sha256('batchsplit:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 >= 500)
          |  GROUP BY 1) keep
          |  ON b2.fingerprint = keep.fingerprint AND b2.doc_id = keep.doc_id
          |LEFT JOIN (
          |  SELECT DISTINCT substr(sha256(norm), 1, 16) AS fingerprint
          |  FROM norm_docs
          |  WHERE CAST('0x' || substr(sha256('batchsplit:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 < 500) seen
          |  ON b2.fingerprint = seen.fingerprint
          |WHERE seen.fingerprint IS NULL""".stripMargin))),

    Q("llm_mix_report",
      // The training-mix dashboard rollup: per (lang, source) cell — doc
      // count, token sum, quality-pass count and rate in ppm. One pass,
      // one partial-aggregated groupBy; the quality predicate is the
      // llm_quality_filter gate inlined so the report and the filter can
      // never drift apart.
      (s, d) => {
        val based = TextOps.withNormToks(Tables.documents(s, d), "text")
        val nTokens = when(length(col("_norm")) === 0, 0L)
          .otherwise(size(col("_toks")).cast("long"))
        val meanWordLen = (length(col("_norm")) - size(col("_toks")) + 1)
          .cast("double") / size(col("_toks"))
        val punctRatio =
          TextOps.punctCount(col("text")).cast("double") / length(col("text"))
        val keep = size(col("_toks")) >= 10 &&
          meanWordLen >= 2.0 && meanWordLen <= 12.0 && punctRatio < 0.2
        based
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(nTokens).as("n_tokens"),
            sum(when(keep, 1L).otherwise(0L)).as("n_keep"))
          .withColumn("keep_ppm", expr("n_keep * 1000000 div n_docs"))
      },
      Some(withCtes(normDocsCte)(
        """SELECT lang, source,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
          |       CAST(sum(CASE WHEN len(toks) >= 10
          |                 AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) >= 2.0
          |                 AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) <= 12.0
          |                 AND (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |                      / length(text)) < 0.2
          |            THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          |       CAST(sum(CASE WHEN len(toks) >= 10
          |                 AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) >= 2.0
          |                 AND (CAST(length(norm) - len(toks) + 1 AS DOUBLE) / len(toks)) <= 12.0
          |                 AND (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          |                      / length(text)) < 0.2
          |            THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS keep_ppm
          |FROM (SELECT t.doc_id, t.text, d.lang, d.source, t.norm, t.toks
          |      FROM tok_docs t JOIN documents d USING (doc_id))
          |GROUP BY 1, 2""".stripMargin))),

    Q("llm_incremental_neardedup",
      // Online near-dup admission: "yesterday" (split < 500) commits its
      // LSH band buckets; "today" is admitted doc-by-doc against that set
      // plus fresh-bucket hub election within the batch. The greedy
      // analog of dedup_cc_survivors for batch-over-batch ingestion.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val split = Sampling.bucketOf(col("doc_id"), "ndsplit")
        // ONE signature pipeline over the corpus, split into committed/new
        // by the content-addressed bucket (derivable from doc_id alone) —
        // two separate per-half pipelines hash the same rows but pay two
        // aggregation stages and two exchanges. The replay semantics are
        // identical: yesterday's buckets are exactly those of split<500.
        val allBuckets = DedupOps.lshBuckets(
          DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id")
          .localCheckpoint()
        val seen = allBuckets.filter(split < 500)
          .select(col("band"), col("bucket")).distinct()
        val (survivors, _) = DedupOps.incrementalNearDedupFromBuckets(
          docs.filter(split >= 500), allBuckets.filter(split >= 500),
          seen, "doc_id")
        survivors.select(col("doc_id"))
      },
      Some("WITH " + Seq(normDocsCte, shinglesCte, sigCte, bucketCte).mkString(",\n") + """,
        |split AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(sha256('ndsplit:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS sb
        |  FROM norm_docs),
        |seen AS (
        |  SELECT DISTINCT band, bucket FROM bucket_docs JOIN split USING (doc_id) WHERE sb < 500),
        |today AS (
        |  SELECT b.doc_id, b.band, b.bucket FROM bucket_docs b JOIN split USING (doc_id) WHERE sb >= 500),
        |collided AS (SELECT DISTINCT doc_id FROM today JOIN seen USING (band, bucket)),
        |freshhubs AS (
        |  SELECT band, bucket, min(doc_id) AS hub FROM today t
        |  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.band = t.band AND s.bucket = t.bucket)
        |  GROUP BY 1, 2),
        |intralosers AS (
        |  SELECT DISTINCT t.doc_id FROM today t
        |  JOIN freshhubs f ON t.band = f.band AND t.bucket = f.bucket AND t.doc_id <> f.hub),
        |losers AS (SELECT doc_id FROM collided UNION SELECT doc_id FROM intralosers)
        |SELECT d.doc_id
        |FROM (SELECT DISTINCT doc_id FROM today) d
        |LEFT JOIN losers l USING (doc_id)
        |WHERE l.doc_id IS NULL""".stripMargin)),

    Q("llm_dup_ngram_frac",
      // Within-document repetition at n-gram granularity (the Gopher-style
      // "fraction of text in duplicated n-grams" quality gate, here over
      // 3-token shingle occurrences): ppm of a doc's shingle slots whose
      // shingle occurs more than once in that doc.
      // MAP-ONLY and sha-free since r16: within-doc duplication never
      // crosses rows, so the native kernel's dup_trigram_slots (count-map
      // over UTF8String triples — EXACT string equality, no hash at all)
      // replaces the hashed-shingle explode + two aggregations; the oracle
      // counts the same raw string shingles. Docs under 3 tokens keep the
      // one-sentinel-shingle convention (n_shingles=1, never dup) — the
      // kernel sees Spark's split('')=[""] artifact as n_tokens=1, which
      // lands in the same <3 branch the oracle's len(toks)=0 does.
      (s, d) => {
        import org.apache.spark.sql.graftglue.ColumnGlue
        val stats = ColumnGlue.column(graft.expressions.RepetitionStats(
          ColumnGlue.expression(TextOps.tokens(col("text")))))
        Tables.documents(s, d)
          .select(col("doc_id"), explode(array(stats)).as("_s"))
          .select(col("doc_id"),
            when(col("_s.n_tokens") >= 3, col("_s.n_tokens") - 2)
              .otherwise(1L).as("n_shingles"),
            when(col("_s.n_tokens") >= 3, col("_s.dup_trigram_slots"))
              .otherwise(0L).as("n_dup"))
          .withColumn("dup_frac_ppm", expr("n_dup * 1000000 div n_shingles"))
      },
      Some("WITH " + normDocsCte + """,
        |sp AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |           THEN list_transform(range(len(toks) - 2),
        |                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
        |           ELSE [norm] END AS sps
        |  FROM tok_docs),
        |occ AS (SELECT doc_id, unnest(sps) AS s FROM sp),
        |pc AS (SELECT doc_id, s, count(*) AS c FROM occ GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_shingles,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000000
        |            // sum(c) AS BIGINT) AS dup_frac_ppm
        |FROM pc GROUP BY 1""".stripMargin)),

    Q("llm_dup_spans",
      // Corpus-level repetition: the 50 most-duplicated 8-token spans seen
      // in more than one document, with occurrence/document counts and the
      // lowest containing doc id as a locator. The (n_occ, n_docs, span)
      // ordering is total, so the limit boundary is deterministic.
      (s, d) => DedupOps.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        width = 8, topK = 50),
      Some("WITH " + normDocsCte + """,
        |sp AS (
        |  SELECT doc_id,
        |         list_transform(range(len(toks) - 7),
        |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
        |             || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]) AS spans
        |  FROM tok_docs WHERE len(toks) >= 8),
        |occ AS (SELECT doc_id, unnest(spans) AS span FROM sp),
        |g AS (
        |  SELECT span,
        |         CAST(count(*) AS BIGINT) AS n_occ,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |         CAST(min(doc_id) AS BIGINT) AS first_doc
        |  FROM occ GROUP BY 1)
        |SELECT span, n_occ, n_docs, first_doc
        |FROM g WHERE n_docs > 1
        |ORDER BY n_occ DESC, n_docs DESC, span
        |LIMIT 50""".stripMargin)),

    Q("llm_span_removal",
      // The excision half of Lee et al. exact-substring dedup: every
      // 8-token window occurring in >1 document is masked everywhere but
      // its first (doc, pos) occurrence, masked positions are excised
      // (overlapping windows union), and the text reassembled from the
      // surviving tokens. Linear: span-keyed election, join-back mask,
      // token-position anti join, per-doc ordered fold.
      (s, d) => DedupOps.removeDuplicatedSpans(Tables.documents(s, d),
        "doc_id", "text", width = 8),
      Some("WITH " + normDocsCte + """,
        |sp0 AS (
        |  SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS idx
        |  FROM tok_docs WHERE len(toks) >= 8),
        |sp AS MATERIALIZED (
        |  SELECT doc_id, idx,
        |         array_to_string(list_slice(toks, CAST(idx+1 AS BIGINT), CAST(idx+8 AS BIGINT)), ' ') AS span,
        |         lpad(CAST(doc_id AS VARCHAR), 20, '0') || lpad(CAST(idx AS VARCHAR), 10, '0') AS k
        |  FROM sp0),
        |dup AS MATERIALIZED (
        |  SELECT span, min(k) AS keeper
        |  FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
        |masked AS MATERIALIZED (
        |  SELECT s.doc_id, s.idx
        |  FROM sp s JOIN dup d USING (span) WHERE s.k <> d.keeper),
        |maskpos AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, idx + j AS pos FROM masked, range(8) r(j)),
        |tokrows AS (
        |  SELECT doc_id, pos, toks[CAST(pos + 1 AS BIGINT)] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
        |        FROM tok_docs WHERE len(toks) > 0)),
        |perdoc AS (
        |  SELECT t.doc_id,
        |         count(*) AS n_kept,
        |         string_agg(t.tok, ' ' ORDER BY t.pos) AS cleaned
        |  FROM tokrows t
        |  WHERE NOT EXISTS (SELECT 1 FROM maskpos m
        |                    WHERE m.doc_id = t.doc_id AND m.pos = t.pos)
        |  GROUP BY 1),
        |wcnt AS (SELECT doc_id, count(*) AS n_win FROM masked GROUP BY 1)
        |SELECT t.doc_id,
        |       coalesce(p.cleaned, '') AS cleaned_text,
        |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(t.toks) - coalesce(p.n_kept, 0) AS BIGINT) AS n_removed,
        |       CAST(coalesce(w.n_win, 0) AS BIGINT) AS n_spans_masked
        |FROM tok_docs t
        |LEFT JOIN perdoc p USING (doc_id)
        |LEFT JOIN wcnt w USING (doc_id)""".stripMargin)),

    Q("llm_source_dup",
      // Boilerplate weight per source: ppm of each source's shingle
      // occurrences whose shingle appears in >1 document corpus-wide — the
      // feed-ranking signal before sampling a training mix.
      (s, d) => DedupOps.sourceDupRollup(Tables.documents(s, d), "doc_id", "text", "source"),
      Some("WITH " + Seq(normDocsCte, shinglesCte).mkString(",\n") + """,
        |occ AS (SELECT doc_id, unnest(shingles) AS h FROM shingle_docs),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM occ GROUP BY 1)
        |SELECT d.source,
        |       CAST(count(*) AS BIGINT) AS n_shingle_occ,
        |       CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_occ,
        |       CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS dup_ppm
        |FROM occ JOIN nd USING (h) JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin)),

    Q("llm_pii_redact",
      // PII scrubbing: email / IPv6 / IPv4 / IBAN-shape / SSN-shape /
      // phone-shape / long-digit-run substrings replaced by typed tags,
      // with per-class per-doc match counts (the compliance report a
      // 100 TB pipeline's legal gate reads). The corpus has no real PII,
      // so deterministic synthetic PII is injected from doc_id on co-prime
      // residues (piiRaw / pii_raw — shared with llm_curation_report's
      // density gate) and both engines inject and redact identically.
      (s, d) => {
        val raw = piiRaw(Tables.documents(s, d))
        raw.select(col("doc_id"),
          TextOps.redactPii(col("raw_text")).as("redacted"),
          TextOps.guardedCount(col("raw_text"), "@", TextOps.EmailRe)
            .cast("long").as("n_emails"),
          TextOps.guardedCount(col("raw_text"), "-", TextOps.PhoneRe)
            .cast("long").as("n_phones"),
          TextOps.guardedCount(col("raw_text"), ".", TextOps.Ipv4Re)
            .cast("long").as("n_ipv4"),
          TextOps.guardedCount(col("raw_text"), ":", TextOps.Ipv6Re)
            .cast("long").as("n_ipv6"),
          regexp_count(col("raw_text"), lit(TextOps.IbanRe)).cast("long").as("n_iban"),
          TextOps.guardedCount(col("raw_text"), "-", TextOps.SsnRe)
            .cast("long").as("n_ssn"))
      },
      Some(withCtes(piiRawCte)(
        s"""SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         regexp_replace(regexp_replace(regexp_replace(raw_text,
        |         '${TextOps.EmailRe}', '<EMAIL>', 'g'),
        |         '${TextOps.Ipv6Re}', '<IPV6>', 'g'),
        |         '${TextOps.Ipv4Re}', '<IPV4>', 'g'),
        |         '${TextOps.IbanRe}', '<IBAN>', 'g'),
        |         '${TextOps.SsnRe}', '<SSN>', 'g'),
        |         '${TextOps.PhoneRe}', '<PHONE>', 'g'),
        |         '${TextOps.LongNumRe}', '<NUM>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(raw_text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(raw_text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
        |       CAST(len(regexp_extract_all(raw_text, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ipv4,
        |       CAST(len(regexp_extract_all(raw_text, '${TextOps.Ipv6Re}')) AS BIGINT) AS n_ipv6,
        |       CAST(len(regexp_extract_all(raw_text, '${TextOps.IbanRe}')) AS BIGINT) AS n_iban,
        |       CAST(len(regexp_extract_all(raw_text, '${TextOps.SsnRe}')) AS BIGINT) AS n_ssn
        |FROM pii_raw""".stripMargin))),

    Q("llm_chunk_windows",
      // Model-input chunking: 32-token windows every 16 tokens (~60-token
      // docs → ~3 chunks each), tail always covered, at least one chunk per
      // non-empty doc.
      (s, d) => TextOps.chunkWindows(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 16),
      Some(withCtes(normDocsCte)(
        """SELECT doc_id, i AS chunk_idx,
          |       array_to_string(list_slice(toks, CAST(i*16+1 AS BIGINT), CAST(i*16+32 AS BIGINT)), ' ') AS chunk,
          |       CAST(least(len(toks) - i*16, 32) AS BIGINT) AS n_chunk_tokens
          |FROM (
          |  SELECT doc_id, toks,
          |         unnest(range(CAST(ceil(greatest(len(toks) - 32, 0) / 16.0) AS BIGINT) + 1)) AS i
          |  FROM tok_docs WHERE length(norm) > 0)""".stripMargin))),

    Q("llm_seq_pack",
      // Contiguous token-stream packing per language: each doc's first
      // token lands in training sequence seq_idx at seq_offset. Packing is
      // per-stratum by design — no global single-partition sort at scale.
      (s, d) => TextOps.packStream(Tables.documents(s, d), "lang", "doc_id",
        "text", seqLen = 512),
      Some(withCtes(normDocsCte)(
        """SELECT d.lang, t.doc_id,
          |       CAST(len(t.toks) AS BIGINT) AS n_tokens,
          |       CAST((sum(len(t.toks)) OVER w - len(t.toks)) // 512 AS BIGINT) AS seq_idx,
          |       CAST((sum(len(t.toks)) OVER w - len(t.toks)) % 512 AS BIGINT) AS seq_offset
          |FROM tok_docs t JOIN documents d USING (doc_id)
          |WINDOW w AS (PARTITION BY d.lang ORDER BY t.doc_id ROWS UNBOUNDED PRECEDING)""".stripMargin))),

    Q("sk_cms_freq",
      // Count-Min frequency sketch (native TypedImperativeAggregate:
      // fixed depth×width grid, map-side partials, element-wise merge).
      // The top-20 exact token counts are read back from the grid — the
      // estimate is the min across depth cells and can only overcount,
      // and the whole grid is reproduced bucket-by-bucket in the oracle.
      (s, d) => {
        // r18: aggregate to VOCABULARY scale first (round-9 rule b — the
        // token domain is Zipf-bounded), then hash each DISTINCT token
        // once and feed the grid through the WEIGHTED update (+cnt ≡ cnt
        // unit updates, bit-identical grid). The former shape
        // localCheckpointed occurrence-scale (tok, _h) rows and paid one
        // sha256 PER OCCURRENCE (FloorProfile: 1.0-1.2 s of build-time
        // actions at sf1.0); this one's checkpoint and sha pass are both
        // vocab-scale and the occurrence rows shuffle once, map-side
        // combined.
        val tokCounts = TextOps.withNormToks(Tables.documents(s, d), "text")
          .select(explode(col("_toks")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
          .withColumn("_h", DedupOps.hash60(col("tok")))
          .localCheckpoint() // vocab-scale; feeds BOTH the sketch and top-20
        val cms = Sketches.cmsSketch(tokCounts, Nil, col("_h"),
          weightCol = Some(col("exact_cnt")))
        val top = tokCounts
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        top.crossJoin(broadcast(cms))
          .withColumn("est_cnt", Sketches.cmsEstimate(col("_h"), col("cms")))
          .select(col("tok"), col("exact_cnt"), col("est_cnt"))
      },
      Some(withCtes(normDocsCte)(
        """SELECT t.tok, CAST(t.exact_cnt AS BIGINT) AS exact_cnt,
          |       CAST(min(b.cnt) AS BIGINT) AS est_cnt
          |FROM (
          |  WITH tk AS (SELECT unnest(toks) AS tok FROM tok_docs),
          |  tk2 AS (SELECT tok, CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) AS h
          |          FROM tk WHERE length(tok) > 0)
          |  SELECT tok, count(*) AS exact_cnt, min(h) AS h
          |  FROM tk2 GROUP BY 1 ORDER BY exact_cnt DESC, tok LIMIT 20) t
          |CROSS JOIN (SELECT * FROM (VALUES (0,3,12289),(1,5,24578),(2,7,36867),(3,9,49156)) AS v(d,a,b)) p
          |JOIN (
          |  WITH tk AS (SELECT unnest(toks) AS tok FROM tok_docs),
          |  tk2 AS (SELECT tok, CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) AS h
          |          FROM tk WHERE length(tok) > 0)
          |  SELECT p2.d, ((p2.a * (k.h % 2147483647) + p2.b) % 2147483647) % 512 AS bucket,
          |         count(*) AS cnt
          |  FROM tk2 k CROSS JOIN (SELECT * FROM (VALUES (0,3,12289),(1,5,24578),(2,7,36867),(3,9,49156)) AS v(d,a,b)) p2
          |  GROUP BY 1, 2) b
          |  ON b.d = p.d AND b.bucket = ((p.a * (t.h % 2147483647) + p.b) % 2147483647) % 512
          |GROUP BY 1, 2""".stripMargin))),

    Q("sk_topk_agg",
      // Bounded-state top-k: the native topk_pairs aggregate keeps the 3
      // best (value-cents, user) pairs per event type with k-pair state —
      // vs the window form, which shuffles and sorts every row. Oracle is
      // the equivalent DISTINCT + row_number window.
      (s, d) => Sketches.topK(Tables.events(s, d), Seq("event_type"),
          cents(col("value")), col("user_id"), 3)
        .select(col("event_type"), col("rank"), col("score").as("score_cents"),
          col("id").as("user_id")),
      Some(s"""WITH p AS (
        |  SELECT DISTINCT event_type, ${centsSql("value")} AS score, user_id
        |  FROM events),
        |r AS (
        |  SELECT event_type, score, user_id,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |              ORDER BY score DESC, user_id) AS BIGINT) AS rank
        |  FROM p)
        |SELECT event_type, rank, score AS score_cents, user_id
        |FROM r WHERE rank <= 3""".stripMargin)),

    Q("scale_bloom_prune",
      // Broadcast Bloom-filter semi-join prune: high-value orders (~10% of
      // orders) build a 2^16-bit filter; lineitem is pruned by a pure
      // literal-array bit-probe predicate BEFORE the exact join. No false
      // negatives, so the oracle is simply the plain join — the bloom is
      // invisible in the result, visible in the scan volume.
      (s, d) => {
        val hi = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
          .select(col("o_orderkey"), col("o_orderpriority"))
        BloomPrune.prunedJoin(Tables.lineitem(s, d), hi,
            "l_orderkey", "o_orderkey", mBits = 1 << 16, k = 3)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).cast("long").as("qty"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("revenue_cents"))
      },
      Some(s"""SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(l_quantity) AS BIGINT) AS qty,
        |       CAST(sum(${centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000
        |GROUP BY 1""".stripMargin)),

    Q("mm_audio_energy",
      // Hop-windowed framing (64-byte frames every 32 bytes) with a stub
      // per-frame energy, rolled up per doc. Window count is per-row from
      // the payload length; docs under one frame (min doc is 48 chars)
      // legitimately produce no rows in either engine.
      (s, d) => {
        val media = Multimodal.asMedia(Tables.documents(s, d), "text", "audio")
        Multimodal.frameWindows(media, frameBytes = 64, hop = 32)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"),
            sum(col("energy")).as("energy_sum"),
            max(col("energy")).as("energy_max"))
      },
      Some("""WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         unnest(range(0, CAST(floor((strlen(text) - 64) / 32.0) + 1 AS BIGINT))) AS i
        |  FROM documents WHERE strlen(text) >= 64),
        |f AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(sha256(substring(hx, CAST(64 * i + 1 AS INTEGER), 128)), 1, 15) AS BIGINT) % 10000 AS energy
        |  FROM m)
        |SELECT doc_id, count(*) AS n_frames,
        |       CAST(sum(energy) AS BIGINT) AS energy_sum,
        |       max(energy) AS energy_max
        |FROM f GROUP BY doc_id""".stripMargin)),

    Q("mm_scene_cuts",
      // Shot-boundary detection over the per-frame feature stream: a cut
      // is a >= 2500 jump in the (stub, hash-derived) frame feature; the
      // rollup reports cuts + total feature motion per video — the
      // sample-per-shot signal. Same 64/32 hop framing as mm_audio_energy.
      (s, d) => {
        val media = Multimodal.asMedia(Tables.documents(s, d), "text", "video")
        Multimodal.sceneCuts(media, frameBytes = 64, hop = 32)
      },
      Some(withCtes(
        """m AS (
          |  SELECT doc_id, hex(encode(text)) AS hx,
          |         unnest(range(0, CAST(floor((strlen(text) - 64) / 32.0) + 1 AS BIGINT))) AS i
          |  FROM documents WHERE strlen(text) >= 64)""".stripMargin,
        """f AS MATERIALIZED (
          |  SELECT doc_id, i,
          |         CAST('0x' || substr(sha256(substring(hx, CAST(64 * i + 1 AS INTEGER), 128)), 1, 15) AS BIGINT) % 10000 AS energy
          |  FROM m)""".stripMargin,
        """lagged AS (
          |  SELECT doc_id, i, energy,
          |         lag(energy) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          |  FROM f)""".stripMargin)(
        """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
          |       CAST(sum(CASE WHEN prev IS NOT NULL AND abs(energy - prev) >= 2500
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
          |       CAST(sum(CASE WHEN prev IS NOT NULL THEN abs(energy - prev)
          |                     ELSE 0 END) AS BIGINT) AS motion_sum
          |FROM lagged GROUP BY 1""".stripMargin))),

    Q("mm_real_scenecuts",
      // REAL multi-frame decode twin of mm_scene_cuts: executors write
      // deterministic ANIMATED GIFs (javax.imageio sequence writer; solid
      // 256-gray-palette frames so palette quantization never fires) plus
      // every 7th id as an undecodable text payload, realSceneCuts reads
      // every frame back and features it as integer mean gray, and DuckDB
      // — which cannot decode GIFs — replays the per-frame formula
      // ((id·37 + f·97) mod 251) arithmetically. A decode that misreads
      // the palette, frame order, or frame count lands off the formula
      // and fails the hash compare (the mm_real_decode discipline).
      (s, d) => {
        import s.implicits._
        val media = Multimodal.syntheticGifs(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0))
        Multimodal.realSceneCuts(media, cutThreshold = 64L).toDF()
          .select(col("doc_id"), col("n_frames"), col("n_cuts"),
            col("motion_sum"), col("ok"))
      },
      Some("""WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
        |fr AS (SELECT doc_id, unnest(range(3 + doc_id % 4)) AS f
        |       FROM v WHERE doc_id % 7 <> 0),
        |ft AS (SELECT doc_id, f, (doc_id * 37 + f * 97) % 251 AS feat FROM fr),
        |dl AS (SELECT doc_id, f,
        |              abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY f)) AS dd
        |       FROM ft),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |              CAST(coalesce(sum(CASE WHEN dd >= 64 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cuts,
        |              CAST(coalesce(sum(dd), 0) AS BIGINT) AS motion_sum
        |       FROM dl GROUP BY 1)
        |SELECT doc_id, n_frames, n_cuts, motion_sum, true AS ok FROM ag
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false AS ok
        |FROM v WHERE doc_id % 7 = 0""".stripMargin)),

    Q("llm_ref_quality",
      // Reference-frequency quality scoring (the CCNet recipe without the
      // engine-divergent float log): df counted on a content-addressed 30%
      // reference slice, every doc scored by OOV ppm + mean inverse-df
      // rarity, fixed integer thresholds bucket head/middle/tail.
      // The synthetic corpus shares a 31-token vocabulary, so OOV is
      // structurally ~0 and rarity_pts is the live axis: thresholds sit at
      // the measured p50/p95 of its 9.1k-29.4k range so all three buckets
      // are exercised. (Production defaults in TextOps assume web-crawl
      // df distributions and sit far higher.)
      (s, d) => TextOps.refFreqQuality(Tables.documents(s, d), "doc_id", "text",
        oovTailPpm = 100000L, rarityTailPts = 12000L,
        rarityHeadPts = 9300L, oovHeadPpm = 100000L),
      Some(withCtes(normDocsCte,
        """occ AS (
          |  SELECT doc_id, unnest(toks) AS tok FROM tok_docs),
          |vocab AS (
          |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM (
          |    SELECT DISTINCT doc_id, tok FROM occ
          |    WHERE CAST('0x' || substr(sha256('ref:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 < 300)
          |  GROUP BY tok HAVING count(*) >= 2),
          |agg AS (
          |  SELECT o.doc_id,
          |         CAST(count(*) AS BIGINT) AS n_toks,
          |         CAST(sum(CASE WHEN v.df IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |         CAST(sum(CASE WHEN v.df IS NOT NULL THEN 1000000 // v.df ELSE 0 END) AS BIGINT) AS rsum,
          |         CAST(sum(CASE WHEN v.df IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv
          |  FROM occ o LEFT JOIN vocab v USING (tok)
          |  GROUP BY 1)""".stripMargin)(
        """SELECT doc_id, n_toks, n_oov,
          |       CAST(n_oov * 1000000 // n_toks AS BIGINT) AS oov_ppm,
          |       CAST(CASE WHEN nv > 0 THEN rsum // nv ELSE 1000000 END AS BIGINT) AS rarity_pts,
          |       CASE WHEN n_oov * 1000000 // n_toks >= 100000
          |              OR (CASE WHEN nv > 0 THEN rsum // nv ELSE 1000000 END) >= 12000 THEN 'tail'
          |            WHEN (CASE WHEN nv > 0 THEN rsum // nv ELSE 1000000 END) < 9300
          |              AND n_oov * 1000000 // n_toks < 100000 THEN 'head'
          |            ELSE 'middle' END AS bucket
          |FROM agg""".stripMargin)))
  )

  /** Dataset assembly (Assemble.scala): mixture resampling, deterministic
    * global shuffle order, token-balanced shard planning, reproducibility
    * manifest — the post-dedup last mile of a training-data pipeline. */
  def assemble: Seq[Q] = Seq(
    Q("llm_target_mix",
      // Water-filling mixture over the skewed lang distribution (en has 3×
      // the availability of fr): fr is the binding source (kept whole,
      // keep_ppm = 1e6) and en is cut hardest. Row-level output pins BOTH
      // the integer plan arithmetic and the hash membership cut.
      (s, d) => Assemble.targetMixResample(Tables.documents(s, d), "lang",
          "doc_id", Seq("en" -> 2L, "zh" -> 1L, "es" -> 1L, "de" -> 1L, "fr" -> 1L),
          "mix")
        .select(col("doc_id"), col("lang"), col("avail"), col("target_n"),
          col("keep_ppm")),
      Some(s"""WITH avail AS (
        |  SELECT lang AS _src, CAST(count(*) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1),
        |w(_src, _w) AS (VALUES ('en', 2), ('zh', 1), ('es', 1), ('de', 1), ('fr', 1)),
        |j AS (
        |  SELECT a._src, a.avail, w._w, a.avail * 6 // w._w AS _nf
        |  FROM avail a JOIN w ON a._src = w._src),
        |n AS (SELECT min(_nf) AS _n FROM j),
        |plan AS (
        |  SELECT _src, avail, CAST(_w * _n // 6 AS BIGINT) AS target_n
        |  FROM j, n),
        |p2 AS (
        |  SELECT _src, avail, target_n,
        |         CAST(target_n * 1000000 // avail AS BIGINT) AS keep_ppm
        |  FROM plan)
        |SELECT d.doc_id, d.lang, p2.avail, p2.target_n, p2.keep_ppm
        |FROM documents d JOIN p2 ON d.lang = p2._src
        |WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 < p2.keep_ppm""".stripMargin)),

    Q("llm_temperature_sample",
      // α-temperature mixture sampling (Conneau et al. 2020 §3.1) at
      // α=0.5: per-lang share ∝ √n_g, weights via the exact integer sqrt
      // (floor(sqrt(double)) seed + ±1 int64 correction — both engines
      // share the IEEE seed, floats never reach a value), targets by
      // truncating div, membership by the portable salted hash. Budget 420
      // makes fr's target exceed its availability at sf0.01, so the
      // least() cap branch is pinned by the gate. Row-level output pins
      // plan arithmetic AND membership, like llm_target_mix.
      (s, d) => Assemble.temperatureSample(Tables.documents(s, d), "lang",
          "doc_id", budgetDocs = 420L, alphaMilli = 500, salt = "temp")
        .select(col("doc_id"), col("lang"), col("n_docs"), col("w_alpha"),
          col("target_n"), col("keep_ppm")),
      Some(s"""WITH stats AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |s0 AS (
        |  SELECT lang, n_docs,
        |         CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS r0
        |  FROM stats),
        |s1 AS (
        |  SELECT lang, n_docs,
        |         CASE WHEN r0 * r0 > n_docs THEN r0 - 1 ELSE r0 END AS r1
        |  FROM s0),
        |w AS (
        |  SELECT lang, n_docs,
        |         CASE WHEN (r1 + 1) * (r1 + 1) <= n_docs THEN r1 + 1 ELSE r1 END
        |           AS w_alpha
        |  FROM s1),
        |tot AS (SELECT CAST(sum(w_alpha) AS BIGINT) AS wsum FROM w),
        |plan AS (
        |  SELECT lang, n_docs, w_alpha,
        |         least(n_docs, CAST(420 * w_alpha // wsum AS BIGINT)) AS target_n
        |  FROM w, tot),
        |p2 AS (
        |  SELECT lang, n_docs, w_alpha, target_n,
        |         CAST(target_n * 1000000 // n_docs AS BIGINT) AS keep_ppm
        |  FROM plan)
        |SELECT d.doc_id, d.lang, p2.n_docs, p2.w_alpha, p2.target_n, p2.keep_ppm
        |FROM documents d JOIN p2 USING (lang)
        |WHERE ${h60("'temp:' || CAST(doc_id AS VARCHAR)")} % 1000000 < p2.keep_ppm""".stripMargin)),

    Q("llm_unimax_mix",
      // UniMax epoch-capped budget allocation over sources (Chung et al.
      // 2023) in the closed-form prefix formulation — see
      // Assemble.unimaxAllocation. Budget 40000 ≈ Σ caps at sf0.01, so the
      // sources split into a capped prefix and a fair-share tail there;
      // the oracle replays the sort/window arithmetic verbatim.
      (s, d) => Assemble.unimaxAllocation(
        Tables.documents(s, d).select(col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks")),
        "source", "n_toks", totalBudget = 40000L, epochsMilli = 1500L),
      Some(withCtes(normDocsCte,
        """av AS (
          |  SELECT d.source, CAST(sum(len(t.toks)) AS BIGINT) AS avail_tokens
          |  FROM tok_docs t JOIN documents d USING (doc_id) GROUP BY 1),
          |capd AS (
          |  SELECT source, avail_tokens,
          |         avail_tokens * 1500 // 1000 AS cap_tokens FROM av),
          |st AS (
          |  SELECT source, avail_tokens, cap_tokens,
          |         coalesce(sum(cap_tokens) OVER (ORDER BY cap_tokens, source
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
          |         count(*) OVER (ORDER BY cap_tokens, source
          |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rem
          |  FROM capd),
          |fl AS (SELECT *, cap_tokens * rem <= 40000 - pre AS is_capped FROM st),
          |agg AS (
          |  SELECT coalesce(sum(CASE WHEN is_capped THEN cap_tokens END), 0) AS csum,
          |         sum(CASE WHEN is_capped THEN 0 ELSE 1 END) AS nunc FROM fl)""".stripMargin)(
        """SELECT source, avail_tokens, CAST(cap_tokens AS BIGINT) AS cap_tokens,
          |       CAST(CASE WHEN is_capped THEN cap_tokens
          |            ELSE (40000 - csum) // nunc END AS BIGINT) AS alloc_tokens,
          |       CAST(CASE WHEN avail_tokens > 0 THEN
          |              (CASE WHEN is_capped THEN cap_tokens
          |               ELSE (40000 - csum) // nunc END) * 1000 // avail_tokens
          |            ELSE 0 END AS BIGINT) AS epochs_milli
          |FROM fl CROSS JOIN agg""".stripMargin))),

    Q("llm_shuffle_order",
      // Deterministic global training order: dense 0-based permutation by
      // salted hash. The oracle is the single-window formulation; the
      // engine runs the bucketed two-level prefix sum — the comparison IS
      // the proof that the scalable decomposition reproduces the global
      // window bit-exactly.
      (s, d) => Assemble.shuffledOrder(
          Tables.documents(s, d).select(col("doc_id")), "doc_id", "shuffle")
        .select(col("doc_id"), col("shuffle_pos")),
      Some(s"""SELECT doc_id,
        |       CAST(row_number() OVER (
        |         ORDER BY ${h60("'shuffle:' || CAST(doc_id AS VARCHAR)")}, doc_id) - 1
        |         AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin)),

    Q("llm_shard_plan",
      // Token-balanced shards over the shuffled stream: each doc belongs to
      // the shard its first token lands in (packStream convention,
      // globalized). 2000-token budget → ~45 shards at sf0.01.
      (s, d) => {
        val based = TextOps.withNormToks(Tables.documents(s, d), "text")
        val nTokens = when(length(col("_norm")) === 0, 0L)
          .otherwise(size(col("_toks")).cast("long"))
        Assemble.shardPlan(based.select(col("doc_id"), nTokens.as("n_tokens")),
            "doc_id", "n_tokens", shardTokens = 2000L, salt = "shard")
          .select(col("doc_id"), col("n_tokens"), col("shard_id"),
            col("shard_offset"))
      },
      Some(withCtes(normDocsCte)(
        s"""SELECT doc_id, n_tokens,
          |       CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id,
          |       CAST((cum - n_tokens) % 2000 AS BIGINT) AS shard_offset
          |FROM (
          |  SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY hk, doc_id) AS cum
          |  FROM (
          |    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |           ${h60("'shard:' || CAST(doc_id AS VARCHAR)")} AS hk
          |    FROM tok_docs) t) c""".stripMargin))),

    Q("llm_shard_manifest",
      // Reproducibility manifest per shard: doc count, token sum, id range,
      // order-insensitive content checksum. Two independently produced
      // copies of the dataset agree on this iff they agree on membership
      // and bytes.
      (s, d) => {
        val docs = Tables.documents(s, d)
        val based = TextOps.withNormToks(docs, "text")
        val nTokens = when(length(col("_norm")) === 0, 0L)
          .otherwise(size(col("_toks")).cast("long"))
        // ONE pass over text: the checksum term is projected alongside the
        // token count, rides through the cumsum checkpoint as a long, and
        // the manifest needs no second scan or id join.
        val plan = Assemble.shardPlan(
          based.select(col("doc_id"), nTokens.as("n_tokens"),
            Assemble.contentChecksumTerm(col("text")).as("_csum")),
          "doc_id", "n_tokens", shardTokens = 2000L, salt = "shard")
        Assemble.shardManifest(plan, "shard_id", "doc_id", "n_tokens",
            col("_csum"))
          .select(col("shard_id"), col("n_docs"), col("shard_tokens"),
            col("content_sum"), col("min_id"), col("max_id"))
      },
      Some(withCtes(normDocsCte)(
        s"""SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
          |       CAST(sum(${h60("text")} % ${Assemble.ChecksumPrime}) AS BIGINT) AS content_sum,
          |       min(doc_id) AS min_id, max(doc_id) AS max_id
          |FROM (
          |  SELECT doc_id, text, n_tokens,
          |         sum(n_tokens) OVER (ORDER BY hk, doc_id) AS cum
          |  FROM (
          |    SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
          |           ${h60("'shard:' || CAST(doc_id AS VARCHAR)")} AS hk
          |    FROM tok_docs) t) c
          |GROUP BY 1""".stripMargin))),

    Q("llm_manifest_diff",
      // Dataset-release audit: an append is simulated (batch A published,
      // batch B appended with shard ids offset past A's max — exactly
      // DatasetWriter.append's arithmetic) and the two versions' manifests
      // are diffed. For an append-only store the invariant is visible in
      // the output: A's shards 'unchanged', B's 'added', nothing
      // 'removed'/'changed'.
      (s, d) => {
        // ONE tokenize pass feeds BOTH versions: the batch flag rides the
        // shard plan's partitionCols, so the two per-batch cumsum orders
        // (bit-identical to planning each batch separately) share one
        // checkpoint, one bucket rollup, and one window stage — the r16
        // llm_manifest_diff job audit (was: two full manifestOf pipelines,
        // each re-tokenizing its half and paying its own job rounds).
        val docs = Tables.documents(s, d)
        val based = TextOps.withNormToks(docs, "text")
        val nTokens = when(length(col("_norm")) === 0, 0L)
          .otherwise(size(col("_toks")).cast("long"))
        val m = Assemble.shardManifest(
          Assemble.shardPlan(
            based.select(col("doc_id"), nTokens.as("n_tokens"),
              Assemble.contentChecksumTerm(col("text")).as("_csum"),
              (pmod(col("doc_id"), lit(10)) === 0).as("_isB")),
            "doc_id", "n_tokens", shardTokens = 2000L, salt = "shard",
            partitionCols = Seq("_isB")),
          "shard_id", "doc_id", "n_tokens", col("_csum"),
          extraKeys = Seq("_isB"))
          .localCheckpoint(eager = false) // shard-scale; feeds both sides ×3
        val statCols = Seq("n_docs", "shard_tokens", "content_sum",
          "min_id", "max_id").map(col)
        // A's max shard id rides a single-partition window over the
        // shard-scale manifest (metadata rows — the compactionPlan
        // precedent), deleting the separate broadcast round (r21
        // bounded-rollup fusion); max() skips the B rows' nulls exactly
        // like the old agg over the A filter.
        val m2 = m.withColumn("_off",
          max(when(!col("_isB"), col("shard_id")))
            .over(org.apache.spark.sql.expressions.Window.partitionBy()) + 1L)
        val a = m2.filter(!col("_isB")).select(col("shard_id") +: statCols: _*)
        val b = m2.filter(col("_isB"))
          .select((col("shard_id") + col("_off")).as("shard_id") +: statCols: _*)
        Assemble.manifestDiff(a, a.unionByName(b))
      },
      Some(withCtes(normDocsCte,
        s"""tn AS (
          |  SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
          |         ${h60("'shard:' || CAST(doc_id AS VARCHAR)")} AS hk,
          |         ${h60("text")} % ${graft.ops.Assemble.ChecksumPrime} AS csum
          |  FROM tok_docs)""".stripMargin,
        manifestCteSql("ma", "doc_id % 10 <> 0"),
        manifestCteSql("mb0", "doc_id % 10 = 0"),
        """mb AS (
          |  SELECT shard_id + (SELECT max(shard_id) + 1 FROM ma) AS shard_id,
          |         n_docs, shard_tokens, content_sum, min_id, max_id
          |  FROM mb0),
          |mnew AS (SELECT * FROM ma UNION ALL SELECT * FROM mb)""".stripMargin)(
        """SELECT coalesce(o.shard_id, n.shard_id) AS shard_id,
          |       CASE WHEN o.shard_id IS NULL THEN 'added'
          |            WHEN n.shard_id IS NULL THEN 'removed'
          |            WHEN o.n_docs <> n.n_docs OR o.shard_tokens <> n.shard_tokens
          |              OR o.content_sum <> n.content_sum OR o.min_id <> n.min_id
          |              OR o.max_id <> n.max_id THEN 'changed'
          |            ELSE 'unchanged' END AS status,
          |       CAST(coalesce(n.n_docs, 0) - coalesce(o.n_docs, 0) AS BIGINT) AS docs_delta,
          |       CAST(coalesce(n.shard_tokens, 0) - coalesce(o.shard_tokens, 0) AS BIGINT) AS tokens_delta
          |FROM ma o FULL OUTER JOIN mnew n ON o.shard_id = n.shard_id""".stripMargin)))
  )

  /** Shard-manifest CTE over the `tn` token/checksum rows restricted by
    * `where` — the llm_shard_manifest arithmetic, reused per batch by
    * llm_manifest_diff. */
  private def manifestCteSql(name: String, where: String): String =
    s"""$name AS (
      |  SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
      |         CAST(sum(csum) AS BIGINT) AS content_sum,
      |         min(doc_id) AS min_id, max(doc_id) AS max_id
      |  FROM (
      |    SELECT doc_id, n_tokens, csum,
      |           sum(n_tokens) OVER (ORDER BY hk, doc_id) AS cum
      |    FROM tn WHERE $where) c
      |  GROUP BY 1)""".stripMargin

  /** Generated oracle for [[graft.ops.Similarity.mmrSelect]]: replay the k
    * greedy MMR rounds as chained CTEs (argmax via ORDER BY … LIMIT 1,
    * selected-set via growing UNION). Every chained CTE MATERIALIZED per
    * the BPE inlining rule. */
  private def mmrOracle(k: Int, probeId: Long, lam: Long): String = {
    def dot(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT)"
    val base = Seq(
      """cv AS MATERIALIZED (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS c
        |  FROM embeddings)""".stripMargin,
      s"qv AS MATERIALIZED (SELECT c AS q FROM cv WHERE vec_id = $probeId)",
      s"""cand AS MATERIALIZED (
         |  SELECT vec_id, c, ${dot("c", "q")} AS rel
         |  FROM cv, qv WHERE vec_id <> $probeId)""".stripMargin,
      s"""r1 AS MATERIALIZED (
         |  SELECT vec_id, c, rel, CAST(0 AS BIGINT) AS divd, $lam * rel AS score
         |  FROM cand ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin) ++
      (if (k >= 2) Seq("s1 AS MATERIALIZED (SELECT vec_id, c FROM r1)") else Nil)
    val rounds = (2 to k).flatMap { j =>
      val rj =
        s"""r$j AS MATERIALIZED (
           |  SELECT vec_id, c, rel, divd, $lam * rel - ${1000L - lam} * divd AS score FROM (
           |    SELECT d.vec_id, d.c, d.rel, max(${dot("d.c", "s.c")}) AS divd
           |    FROM cand d CROSS JOIN s${j - 1} s
           |    WHERE d.vec_id NOT IN (SELECT vec_id FROM s${j - 1})
           |    GROUP BY d.vec_id, d.c, d.rel)
           |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      if (j < k)
        Seq(rj, s"s$j AS MATERIALIZED (SELECT vec_id, c FROM s${j - 1} " +
          s"UNION ALL SELECT vec_id, c FROM r$j)")
      else Seq(rj)
    }
    val body = (1 to k).map(j =>
      s"SELECT CAST($j AS INTEGER) AS mmr_rank, vec_id, rel AS rel_pts, " +
        s"divd AS div_pts, score AS score_pts FROM r$j")
      .mkString("\nUNION ALL\n")
    withCtes(base ++ rounds: _*)(body)
  }

  /** Diverse retrieval via MMR — registered with the ANN tier. */
  def retrieval: Seq[Q] = Seq(
    Q("ann_mmr_topk",
      (s, d) => Similarity.mmrSelect(Tables.embeddings(s, d), "vec_id",
        "embedding", probeId = 0L, k = 8, lambdaMilli = 700L),
      Some(mmrOracle(8, 0L, 700L))))

  /** Tokenizer special-token / chat-template markers a crawl must never
    * contain verbatim (their presence means template leakage or a scraped
    * model transcript — FineWeb/Dolma-class hygiene filters). */
  private val SpecialTokenMarkers =
    Seq("<|endoftext|>", "<|im_start|>", "</s>", "[INST]")

  /** Session-2 text analysis: segment-level language agreement and
    * special-token hygiene. */
  def textAnalysis2: Seq[Q] = {
    val segScoreCols = TextOps.LangMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      s"CAST(len(list_filter(seg_toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS s_$lang"
    }.mkString(",\n         ")
    Seq(
      Q("llm_mixed_lang",
        (s, d) => TextOps.mixedLangReport(Tables.documents(s, d), "doc_id", "text"),
        Some(withCtes(normDocsCte,
          """segs AS MATERIALIZED (
            |  SELECT doc_id,
            |         list_slice(toks, seg_idx * 8 + 1, seg_idx * 8 + 8) AS seg_toks
            |  FROM (SELECT doc_id, toks,
            |               unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS seg_idx
            |        FROM tok_docs WHERE length(norm) > 0))""".stripMargin,
          s"""segscore AS (
            |  SELECT doc_id,
            |         $segScoreCols
            |  FROM segs)""".stripMargin,
          s"seglang AS (SELECT doc_id, CASE $langCaseChain END AS seg_lang FROM segscore)",
          """perlang AS (
            |  SELECT doc_id, seg_lang, CAST(count(*) AS BIGINT) AS n,
            |         lpad(CAST(count(*) AS VARCHAR), 7, '0') || seg_lang AS mk
            |  FROM seglang GROUP BY 1, 2)""".stripMargin)(
          """SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segs,
            |       CAST(count(*) AS BIGINT) AS n_langs,
            |       substr(max(mk), 8, 2) AS majority_lang,
            |       (CAST(sum(n) AS BIGINT) - CAST(substr(max(mk), 1, 7) AS BIGINT))
            |         * 1000000 // CAST(sum(n) AS BIGINT) AS minority_ppm
            |FROM perlang GROUP BY 1""".stripMargin))),

      Q("llm_special_tokens",
        (s, d) => {
          val t = col("text")
          val counts = SpecialTokenMarkers.map { p =>
            expr(s"(length(text) - length(replace(text, '$p', ''))) div ${p.length}")
          }
          Tables.documents(s, d).select(col("doc_id"),
            counts.reduce(_ + _).cast("long").as("n_special"),
            (instr(t, "�") > 0).as("has_replacement_char"))
            .withColumn("clean",
              col("n_special") === 0L && !col("has_replacement_char"))
        },
        Some {
          val cnt = SpecialTokenMarkers.map(p =>
            s"(length(text) - length(replace(text, '$p', ''))) // ${p.length}")
            .mkString(" + ")
          s"""SELECT doc_id, CAST($cnt AS BIGINT) AS n_special,
            |       contains(text, chr(65533)) AS has_replacement_char,
            |       (CAST($cnt AS BIGINT) = 0 AND NOT contains(text, chr(65533))) AS clean
            |FROM documents""".stripMargin
        }))
  }

  /** Event-sequence analytics (see [[graft.ops.Funnel]]) plus the MinHash
    * estimation-error audit. The funnel oracle replays the greedy fold as
    * chained conditional-min CTEs — a structurally different strategy that
    * must reach identical step times. */
  def eventsAnalytics: Seq[Q] = {
    val FunnelSteps = Seq("signup", "view", "click", "purchase")
    val FunnelWindowS = 604800L // 7 days from funnel start
    val ep = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"
    val funnelCtes: Seq[String] = {
      val f1 =
        s"""f1 AS MATERIALIZED (
          |  SELECT user_id, min($ep) AS t1
          |  FROM events WHERE event_type = '${FunnelSteps.head}' GROUP BY 1)""".stripMargin
      val epE = ep.replace("ts", "e.ts")
      val rest = (2 to FunnelSteps.size).map { j =>
        val prev = s"f${j - 1}"
        s"""f$j AS MATERIALIZED (
          |  SELECT e.user_id, p.t1, min($epE) AS t$j
          |  FROM events e JOIN $prev p USING (user_id)
          |  WHERE e.event_type = '${FunnelSteps(j - 1)}'
          |    AND $epE > p.t${j - 1}
          |    AND $epE <= p.t1 + $FunnelWindowS
          |  GROUP BY 1, 2)""".stripMargin
      }
      f1 +: rest
    }
    val funnelBody = FunnelSteps.indices.map { i =>
      s"SELECT ${i + 1} AS step_idx, '${FunnelSteps(i)}' AS step, " +
        s"CAST(count(*) AS BIGINT) AS users FROM f${i + 1}"
    }.mkString("\nUNION ALL\n")

    // Locally-materialized copies of the shared MinHash CTEs: sig_docs is
    // referenced 6x below (4 band unions + both estimate joins) and
    // shingle_docs 3x — DuckDB 1.0 would inline each reference (see the
    // BPE CTE-inlining note in BENCHNOTES).
    val shinglesCteM = shinglesCte.replace("shingle_docs AS (", "shingle_docs AS MATERIALIZED (")
    val sigCteM = sigCte.replace("sig_docs AS (", "sig_docs AS MATERIALIZED (")
    val pairsCteM = pairsCte.replace("pair_docs AS (", "pair_docs AS MATERIALIZED (")
    val sigMatches = (0 until 8)
      .map(j => s"(CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END)")
      .mkString(" + ")

    // A/B flavor: variant rides every round CTE (a pure function of
    // user_id); counts roll up per (variant, step).
    val abBucket =
      "CAST('0x' || substr(sha256('ab:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000"
    val abCtes: Seq[String] = {
      val g1 =
        s"""g1 AS MATERIALIZED (
          |  SELECT user_id,
          |         CASE WHEN $abBucket < 500 THEN 'treatment' ELSE 'control' END AS variant,
          |         min($ep) AS t1
          |  FROM events WHERE event_type = '${FunnelSteps.head}' GROUP BY 1, 2)""".stripMargin
      val epE2 = ep.replace("ts", "e.ts")
      val rest = (2 to FunnelSteps.size).map { j =>
        s"""g$j AS MATERIALIZED (
          |  SELECT e.user_id, p.variant, p.t1, min($epE2) AS t$j
          |  FROM events e JOIN g${j - 1} p USING (user_id)
          |  WHERE e.event_type = '${FunnelSteps(j - 1)}'
          |    AND $epE2 > p.t${j - 1}
          |    AND $epE2 <= p.t1 + $FunnelWindowS
          |  GROUP BY 1, 2, 3)""".stripMargin
      }
      g1 +: rest
    }
    // The A/B report's shape is STATIC — both variant labels × all steps,
    // zero-filled: a per-g_j `GROUP BY variant` alone would drop any
    // (variant, step) with zero converters (a skewed corpus where one
    // variant never reaches a step), diverging from the engine's
    // universe-completed output. LEFT JOIN the counts onto the literal
    // variant×step frame instead, mirroring Funnel.abFunnel.
    val abUniverse =
      s"""abu AS (
        |  SELECT v.variant, s.step_idx, s.step
        |  FROM (VALUES ('treatment'), ('control')) v(variant)
        |  CROSS JOIN (VALUES ${FunnelSteps.indices
          .map(i => s"(${i + 1}, '${FunnelSteps(i)}')").mkString(", ")}) s(step_idx, step))""".stripMargin
    val abCounts = FunnelSteps.indices.map { i =>
      s"SELECT variant, ${i + 1} AS step_idx, count(*) AS n FROM g${i + 1} GROUP BY 1"
    }.mkString("\nUNION ALL\n")
    val abBody =
      s"""SELECT abu.variant, abu.step_idx, abu.step,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS users
        |FROM abu LEFT JOIN (
        |$abCounts) c USING (variant, step_idx)""".stripMargin

    Seq(
      Q("ev_funnel",
        (s, d) => Funnel.funnelSteps(Tables.events(s, d), "ts", "user_id",
          "event_type", FunnelSteps, FunnelWindowS),
        Some(withCtes(funnelCtes: _*)(funnelBody))),

      Q("ev_funnel_latency",
        // Time-to-convert decade histogram per step (see
        // Funnel.funnelLatency). The oracle reads durations off the same
        // chained conditional-min CTEs as ev_funnel — on the fold side the
        // engines cross-check each other's strategy here too.
        (s, d) => Funnel.funnelLatency(Tables.events(s, d), "ts", "user_id",
          "event_type", FunnelSteps, FunnelWindowS),
        Some(withCtes(funnelCtes: _*)(
          s"""SELECT step_idx, CAST(length(CAST(dur AS VARCHAR)) - 1 AS BIGINT) AS decade,
            |       CAST(count(*) AS BIGINT) AS users,
            |       CAST(min(dur) AS BIGINT) AS min_s,
            |       CAST(max(dur) AS BIGINT) AS max_s
            |FROM (${(2 to FunnelSteps.size).map(j =>
              s"SELECT $j AS step_idx, t$j - t1 AS dur FROM f$j")
              .mkString("\nUNION ALL\n")})
            |GROUP BY 1, 2""".stripMargin))),

      Q("ev_ab_funnel",
        (s, d) => Funnel.abFunnel(Tables.events(s, d), "ts", "user_id",
          "event_type", FunnelSteps, FunnelWindowS),
        Some(withCtes(abCtes :+ abUniverse: _*)(abBody))),

      Q("ev_retention",
        (s, d) => Funnel.retentionCohorts(Tables.events(s, d), "ts", "user_id"),
        Some(withCtes(
          s"""ew AS MATERIALIZED (
            |  SELECT user_id, $ep // 604800 AS wk FROM events)""".stripMargin,
          """fw AS (SELECT user_id, min(wk) AS cohort_week FROM ew GROUP BY 1)""")(
          """SELECT cohort_week, wk - cohort_week AS week_offset,
            |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
            |FROM ew e JOIN fw USING (user_id)
            |GROUP BY 1, 2""".stripMargin))),

      Q("ev_transitions",
        (s, d) => Funnel.transitionCounts(Tables.events(s, d), "ts", "user_id",
          "event_type", "event_id"),
        Some("""SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS transitions
          |FROM (SELECT event_type AS from_type,
          |             lead(event_type) OVER (PARTITION BY user_id
          |               ORDER BY ts, event_id) AS to_type
          |      FROM events)
          |WHERE to_type IS NOT NULL
          |GROUP BY 1, 2""".stripMargin)),

      Q("ev_pagerank",
        // Behavioral PageRank of event types (see Funnel.typePageRank for
        // the integer power-iteration contract). The oracle replays all 8
        // rounds as chained CTEs; every r_i is referenced twice (contrib +
        // dangling mass) so each is MATERIALIZED — round-9 session-2 rule
        // (a), the DuckDB CTE-inlining 2^k re-derivation trap.
        (s, d) => Funnel.typePageRank(Tables.events(s, d), "ts", "user_id",
          "event_type", "event_id"),
        Some {
          val prelude = Seq(
            """prtr AS MATERIALIZED (
              |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
              |  FROM (SELECT event_type AS from_type,
              |               lead(event_type) OVER (PARTITION BY user_id
              |                 ORDER BY ts, event_id) AS to_type
              |        FROM events)
              |  WHERE to_type IS NOT NULL GROUP BY 1, 2)""".stripMargin,
            "prnodes AS MATERIALIZED (SELECT DISTINCT event_type AS node FROM events)",
            "prn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM prnodes)",
            """proutdeg AS MATERIALIZED (
              |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS outc
              |  FROM prtr GROUP BY 1)""".stripMargin,
            """prp AS MATERIALIZED (
              |  SELECT t.from_type, t.to_type, t.cnt * 1000000 // o.outc AS p_ppm
              |  FROM prtr t JOIN proutdeg o USING (from_type))""".stripMargin,
            """r0 AS MATERIALIZED (
              |  SELECT node, 1000000 // prn.n AS r FROM prnodes CROSS JOIN prn)""".stripMargin)
          val rounds = (1 to 8).map { i =>
            s"""r$i AS MATERIALIZED (
              |  SELECT nd.node,
              |         (150000000000 // prn.n
              |          + 850000 * (coalesce(c.contrib, 0) + d.dang // prn.n))
              |           // 1000000 AS r
              |  FROM prnodes nd
              |  CROSS JOIN prn
              |  LEFT JOIN (
              |    SELECT p.to_type AS node,
              |           CAST(sum(r.r * p.p_ppm // 1000000) AS BIGINT) AS contrib
              |    FROM r${i - 1} r JOIN prp p ON p.from_type = r.node
              |    GROUP BY 1) c ON c.node = nd.node
              |  CROSS JOIN (
              |    SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang
              |    FROM r${i - 1} r LEFT JOIN proutdeg o ON o.from_type = r.node
              |    WHERE o.from_type IS NULL) d)""".stripMargin
          }
          withCtes(prelude ++ rounds: _*)(
            "SELECT node, r AS rank_ppm FROM r8")
        }),

      Q("ev_rolling_revenue",
        (s, d) => Funnel.rollingRevenue(Tables.events(s, d), "ts", "event_type", "value"),
        Some(withCtes(
          s"""daily AS MATERIALIZED (
            |  SELECT event_type, $ep // 86400 AS day_idx,
            |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            |  FROM events GROUP BY 1, 2)""".stripMargin)(
          """SELECT event_type, day_idx, rev_cents,
            |       CAST(sum(rev_cents) OVER (PARTITION BY event_type ORDER BY day_idx
            |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_roll_cents
            |FROM daily""".stripMargin))),

      Q("ev_wow_growth",
        (s, d) => Funnel.weekOverWeek(Tables.events(s, d), "ts", "event_type", "value"),
        Some(withCtes(
          s"""weekly AS MATERIALIZED (
            |  SELECT event_type, $ep // 604800 AS week_idx,
            |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            |  FROM events GROUP BY 1, 2)""".stripMargin,
          """lagged AS (
            |  SELECT event_type, week_idx, rev_cents,
            |         lag(rev_cents) OVER (PARTITION BY event_type ORDER BY week_idx) AS prev_cents
            |  FROM weekly)""".stripMargin)(
          """SELECT event_type, week_idx, rev_cents, prev_cents,
            |       (rev_cents - prev_cents) * 10000 // prev_cents AS growth_bp
            |FROM lagged WHERE prev_cents IS NOT NULL AND prev_cents <> 0""".stripMargin))),

      Q("ev_pivot_weekly",
        (s, d) => Funnel.weeklyTypePivot(Tables.events(s, d), "ts", "event_type",
          Seq("click", "error", "purchase", "signup", "view")),
        Some(s"""SELECT $ep // 604800 AS week_idx,
          |       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
          |       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
          |       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
          |       CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
          |       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
          |FROM events GROUP BY 1""".stripMargin)),

      Q("ev_anomaly",
        (s, d) => Funnel.dailyAnomalies(Tables.events(s, d), "ts", "event_type", "value"),
        Some(withCtes(
          s"""daily AS MATERIALIZED (
            |  SELECT event_type, $ep // 86400 AS day_idx,
            |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            |  FROM events GROUP BY 1, 2)""".stripMargin,
          """med AS (SELECT event_type, CAST(median(rev_cents) * 2 AS BIGINT) AS med2
            |       FROM daily GROUP BY 1)""".stripMargin,
          """dev AS MATERIALIZED (
            |  SELECT d.event_type, day_idx, rev_cents,
            |         abs(rev_cents * 2 - med2) AS dev2
            |  FROM daily d JOIN med USING (event_type))""".stripMargin,
          """mad AS (SELECT event_type, CAST(median(dev2) * 2 AS BIGINT) AS mad4
            |       FROM dev GROUP BY 1)""".stripMargin)(
          """SELECT d.event_type, day_idx, rev_cents,
            |       (dev2 * 2 > mad4 * 3) AS is_anomaly
            |FROM dev d JOIN mad USING (event_type)""".stripMargin))),

      Q("ev_sessions",
        // Gap-based sessionization (30-min rule) + per-session rollup.
        // Both engines split sessions on truncated epoch SECONDS over the
        // identical (ep_s, event_id) per-user order, so the boundary flag
        // can never flip on one side; money is integer cents throughout.
        (s, d) => Funnel.sessionize(Tables.events(s, d), "ts", "user_id",
          "event_type", "value", "event_id"),
        Some(withCtes(
          s"""ev AS MATERIALIZED (
            |  SELECT user_id, $ep AS ep_s, event_type,
            |         CAST(floor(value * 100) AS BIGINT) AS v_cents, event_id
            |  FROM events)""".stripMargin,
          """marked AS MATERIALIZED (
            |  SELECT user_id, ep_s, event_type, v_cents, event_id,
            |         CASE WHEN ep_s - lag(ep_s) OVER
            |                (PARTITION BY user_id ORDER BY ep_s, event_id) <= 1800
            |              THEN 0 ELSE 1 END AS new_sess
            |  FROM ev)""".stripMargin,
          """sess AS (
            |  SELECT user_id, ep_s, event_type, v_cents,
            |         sum(new_sess) OVER (PARTITION BY user_id
            |           ORDER BY ep_s, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
            |  FROM marked)""".stripMargin)(
          """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
            |       CAST(count(*) AS BIGINT) AS n_events,
            |       min(ep_s) AS start_s, max(ep_s) AS end_s,
            |       max(ep_s) - min(ep_s) AS duration_s,
            |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
            |       CAST(sum(v_cents) AS BIGINT) AS rev_cents
            |FROM sess GROUP BY 1, 2""".stripMargin))),

      Q("ev_entry_exit",
        // Landing/exit analysis over the same session boundaries: sessions
        // counted by (first event type, last event type, converted). The
        // first/last ride min_by/max_by on a zero-padded (ep_s, event_id)
        // string key — deterministic in both engines, partial-agg friendly.
        (s, d) => Funnel.sessionEntryExit(Tables.events(s, d), "ts",
          "user_id", "event_type", "event_id", convType = "purchase"),
        Some(withCtes(
          s"""ev AS MATERIALIZED (
            |  SELECT user_id, $ep AS ep_s, event_type, event_id
            |  FROM events)""".stripMargin,
          """marked AS MATERIALIZED (
            |  SELECT user_id, ep_s, event_type, event_id,
            |         CASE WHEN ep_s - lag(ep_s) OVER
            |                (PARTITION BY user_id ORDER BY ep_s, event_id) <= 1800
            |              THEN 0 ELSE 1 END AS new_sess
            |  FROM ev)""".stripMargin,
          """sess AS (
            |  SELECT user_id, ep_s, event_type, event_id,
            |         sum(new_sess) OVER (PARTITION BY user_id
            |           ORDER BY ep_s, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
            |  FROM marked)""".stripMargin,
          """per_sess AS (
            |  SELECT user_id, session_idx,
            |         arg_min(event_type, lpad(CAST(ep_s AS VARCHAR), 19, '0')
            |           || lpad(CAST(event_id AS VARCHAR), 19, '0')) AS entry_type,
            |         arg_max(event_type, lpad(CAST(ep_s AS VARCHAR), 19, '0')
            |           || lpad(CAST(event_id AS VARCHAR), 19, '0')) AS exit_type,
            |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            |           AS converted
            |  FROM sess GROUP BY 1, 2)""".stripMargin)(
          """SELECT entry_type, exit_type, converted,
            |       CAST(count(*) AS BIGINT) AS sessions
            |FROM per_sess GROUP BY 1, 2, 3""".stripMargin))),

      Q("ev_attribution",
        // Session-scoped first-touch × last-touch conversion attribution;
        // conversions that open their session credit '(direct)'.
        (s, d) => Funnel.attribution(Tables.events(s, d), "ts", "user_id",
          "event_type", "event_id", convType = "purchase"),
        Some(withCtes(
          s"""ev AS MATERIALIZED (
            |  SELECT user_id, $ep AS ep_s, event_type, event_id
            |  FROM events)""".stripMargin,
          """marked AS MATERIALIZED (
            |  SELECT user_id, ep_s, event_type, event_id,
            |         CASE WHEN ep_s - lag(ep_s) OVER
            |                (PARTITION BY user_id ORDER BY ep_s, event_id) <= 1800
            |              THEN 0 ELSE 1 END AS new_sess,
            |         lag(event_type) OVER
            |           (PARTITION BY user_id ORDER BY ep_s, event_id) AS prev_type
            |  FROM ev)""".stripMargin,
          """sess AS MATERIALIZED (
            |  SELECT user_id, ep_s, event_type, event_id, new_sess, prev_type,
            |         sum(new_sess) OVER (PARTITION BY user_id
            |           ORDER BY ep_s, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
            |  FROM marked)""".stripMargin,
          """conv AS (
            |  SELECT user_id, session_idx,
            |         CASE WHEN new_sess = 0 THEN prev_type
            |              ELSE '(direct)' END AS last_touch
            |  FROM sess WHERE event_type = 'purchase')""".stripMargin,
          """entry AS (
            |  SELECT user_id, session_idx,
            |         arg_min(event_type, lpad(CAST(ep_s AS VARCHAR), 19, '0')
            |           || lpad(CAST(event_id AS VARCHAR), 19, '0')) AS first_touch
            |  FROM sess GROUP BY 1, 2)""".stripMargin)(
          """SELECT first_touch, last_touch,
            |       CAST(count(*) AS BIGINT) AS conversions
            |FROM conv JOIN entry USING (user_id, session_idx)
            |GROUP BY 1, 2""".stripMargin))),

      Q("ev_user_rfm",
        // RFM segmentation: converting users banded above/below the
        // deterministic sample median on each axis (Funnel.userRfm — the
        // bounded-state quantile sample, not a global median), rolled up
        // into the 8 segments with counts and totals.
        (s, d) => Funnel.userRfm(Tables.events(s, d), "ts", "user_id",
          "event_type", "value", convType = "purchase"),
        Some {
          def medCte(name: String, vcol: String, salt: String) =
            s"""$name AS (
              |  SELECT v FROM (
              |    SELECT v, row_number() OVER (ORDER BY v, user_id) AS rn,
              |           count(*) OVER () AS n
              |    FROM (SELECT user_id, $vcol AS v FROM per
              |          ORDER BY CAST('0x' || substr(sha256('$salt:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT),
              |                   user_id
              |          LIMIT 256))
              |  WHERE rn = greatest(1, CAST(ceil(50 * n / 100.0) AS BIGINT)))""".stripMargin
          withCtes(
            s"""per0 AS MATERIALIZED (
              |  SELECT user_id, max($ep) AS last_s,
              |         CAST(count(*) AS BIGINT) AS freq,
              |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1)""".stripMargin,
            """per AS MATERIALIZED (
              |  SELECT user_id, freq, monetary_cents,
              |         ((SELECT max(last_s) FROM per0) - last_s) // 86400 AS recency_days
              |  FROM per0)""".stripMargin,
            medCte("medr", "recency_days", "rfm_r"),
            medCte("medf", "freq", "rfm_f"),
            medCte("medm", "monetary_cents", "rfm_m"))(
            """SELECT per.recency_days < medr.v AS recent,
              |       per.freq > medf.v AS frequent,
              |       per.monetary_cents > medm.v AS high_value,
              |       CAST(count(*) AS BIGINT) AS n_users,
              |       CAST(sum(per.freq) AS BIGINT) AS sum_freq,
              |       CAST(sum(per.monetary_cents) AS BIGINT) AS sum_cents
              |FROM per, medr, medf, medm
              |GROUP BY 1, 2, 3""".stripMargin)
        }),

      Q("ev_json_metrics",
        // JSON property extraction at event scale (the F6 json-access
        // class applied to the analytics tier): per event type, exact
        // integer stats of props.k — get_json_object stays inside
        // whole-stage codegen, map-side partials collapse to |types| rows.
        (s, d) => Tables.events(s, d)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("k_sum"),
            min(col("k")).as("k_min"),
            max(col("k")).as("k_max")),
        Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
          |       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
          |       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
          |FROM events GROUP BY 1""".stripMargin)),

      Q("dedup_edit_verify",
        (s, d) => {
          val docs = Tables.documents(s, d)
          val pairs = DedupOps.candidatePairs(
            DedupOps.lshBuckets(
              DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"),
            "doc_id").localCheckpoint()
          DedupOps.editVerify(pairs, docs, "doc_id", "text", prefixLen = 200)
        },
        Some(withCtes(
            normDocsCte.replace("norm_docs AS (", "norm_docs AS MATERIALIZED ("),
            shinglesCteM, sigCteM, bucketCte, pairsCteM)(
          """SELECT id_a, id_b, edit_dist, len_a, len_b,
            |       1000 - edit_dist * 1000 // greatest(len_a, len_b, 1) AS sim_milli
            |FROM (
            |  SELECT p.id_a, p.id_b,
            |         CAST(levenshtein(substr(a.norm, 1, 200), substr(b.norm, 1, 200)) AS BIGINT) AS edit_dist,
            |         CAST(length(substr(a.norm, 1, 200)) AS BIGINT) AS len_a,
            |         CAST(length(substr(b.norm, 1, 200)) AS BIGINT) AS len_b
            |  FROM pair_docs p
            |  JOIN norm_docs a ON a.doc_id = p.id_a
            |  JOIN norm_docs b ON b.doc_id = p.id_b)""".stripMargin))),

      Q("dedup_minhash_est",
        (s, d) => DedupOps.minhashEstimate(Tables.documents(s, d), "doc_id", "text", 8),
        Some(withCtes(normDocsCte, shinglesCteM, sigCteM, bucketCte, pairsCteM)(
          s"""SELECT id_a, id_b, est_milli, true_milli,
            |       abs(est_milli - true_milli) AS abs_err_milli
            |FROM (
            |  SELECT p.id_a, p.id_b,
            |         CAST(($sigMatches) * 125 AS BIGINT) AS est_milli,
            |         CAST(len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles))) * 1000
            |              // (len(list_distinct(sa.shingles)) + len(list_distinct(sb.shingles))
            |                 - len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))) AS BIGINT) AS true_milli
            |  FROM pair_docs p
            |  JOIN sig_docs a ON a.doc_id = p.id_a
            |  JOIN sig_docs b ON b.doc_id = p.id_b
            |  JOIN shingle_docs sa ON sa.doc_id = p.id_a
            |  JOIN shingle_docs sb ON sb.doc_id = p.id_b)""".stripMargin))),

      Q("llm_leakage_audit",
        // Eval-leakage audit: near-dup candidate pairs classified by the
        // content-addressed train/test split they land in — a straddling
        // pair IS train→test leakage (the cluster, not the doc, must own
        // a split). Pair set is the LSH candidate backbone; the split is
        // a pure hash of the id, so the two split joins are map-only
        // projections of the scan.
        (s, d) => {
          val docs = Tables.documents(s, d)
          val pairs = DedupOps.candidatePairs(
            DedupOps.lshBuckets(
              DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"),
            "doc_id")
          val split = Sampling.trainTestSplit(
              docs.select(col("doc_id")), "doc_id", 100)
            .select(col("doc_id"), col("split"))
          pairs
            .join(split.select(col("doc_id").as("id_a"), col("split").as("_sa")),
              Seq("id_a"))
            .join(split.select(col("doc_id").as("id_b"), col("split").as("_sb")),
              Seq("id_b"))
            .groupBy(when(col("_sa") === col("_sb"),
                concat(lit("both_"), col("_sa")))
              .otherwise(lit("straddle")).as("pair_class"))
            .agg(count(lit(1)).as("n_pairs"))
        },
        Some(withCtes(normDocsCte, shinglesCteM, sigCteM, bucketCte, pairsCteM,
          // MATERIALIZED: referenced twice (both join sides) — DuckDB 1.0
          // would otherwise re-run the per-doc sha256 per reference
          // (round-9 session-2 rule a)
          s"""split AS MATERIALIZED (
            |  SELECT doc_id,
            |         CASE WHEN ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 100
            |              THEN 'test' ELSE 'train' END AS split
            |  FROM documents)""".stripMargin)(
          """SELECT CASE WHEN a.split = b.split THEN 'both_' || a.split
            |            ELSE 'straddle' END AS pair_class,
            |       CAST(count(*) AS BIGINT) AS n_pairs
            |FROM pair_docs p
            |JOIN split a ON a.doc_id = p.id_a
            |JOIN split b ON b.doc_id = p.id_b
            |GROUP BY 1""".stripMargin)))
    )
  }

  /** Model-based curation classifiers (graft.ops.Classify) plus the
    * corpus-lexicon health reports — the "train a cheap gate, audit it,
    * read the lexicon" tier of a pretraining pipeline. All integer-exact
    * (ppm points, truncating division); see Classify's scaladoc for the
    * log-vs-points portability trade-off. */
  def classifiers: Seq[Q] = {
    // Shared DuckDB fragments: token occurrences with lang, the train-slice
    // (token, class) counts and the derived smoothed ppm weights/floors.
    // occ and cnts are each multiply-referenced → MATERIALIZED (round-9
    // session-2 rule a: DuckDB 1.0 inlines CTEs and would re-derive them).
    val clsBucket = s"${h60("'cls:' || CAST(doc_id AS VARCHAR)")} % 1000"
    // Shared centroid fragments (review catch: ann_centroid_model and
    // ann_centroid_confusion carried two drift-prone copies of this block).
    // cmodel is MATERIALIZED for the confusion query's double use; harmless
    // for the model query's single reference.
    val centQuantCte =
      """quant AS MATERIALIZED (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
        |  FROM embeddings)""".stripMargin
    val centModelCtes =
      s"""ctrain AS (SELECT * FROM quant
        |  WHERE ${h60("'cent:' || CAST(vec_id AS VARCHAR)")} % 1000 < 700),
        |cex AS (
        |  SELECT label, u.pos AS pos, u.x AS x
        |  FROM (SELECT label, unnest(list_transform(range(len(v)),
        |               i -> struct_pack(pos := i, x := v[i+1]))) AS u
        |        FROM ctrain)),
        |csums AS (SELECT label, pos, CAST(sum(x) AS BIGINT) AS s,
        |                 CAST(count(*) AS BIGINT) AS n
        |          FROM cex GROUP BY 1, 2),
        |cmodel AS MATERIALIZED (
        |  SELECT label AS clabel, max(n) AS n,
        |         list(s // n ORDER BY pos) AS mu
        |  FROM csums GROUP BY 1)""".stripMargin
    val occCte =
      """occ AS MATERIALIZED (
        |  SELECT t.doc_id, d.lang, unnest(t.toks) AS token
        |  FROM tok_docs t JOIN documents d USING (doc_id)
        |  WHERE length(t.norm) > 0)""".stripMargin
    val cntsCtes =
      s"""cnts AS MATERIALIZED (
        |  SELECT token, lang AS cls, CAST(count(*) AS BIGINT) AS c
        |  FROM occ WHERE $clsBucket < 700 GROUP BY 1, 2),
        |tot AS (SELECT cls, CAST(sum(c) AS BIGINT) AS t FROM cnts GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM cnts),
        |wt AS MATERIALIZED (
        |  SELECT c.token, c.cls, (c.c + 1) * 1000000 // (t.t + vv.v) AS pts
        |  FROM cnts c JOIN tot t USING (cls) CROSS JOIN vv),
        |floors AS (SELECT cls, 1000000 // (t + v) AS fl FROM tot CROSS JOIN vv)""".stripMargin
    // Eval-slice scoring: every occurrence crossed with the class list,
    // weight lookup with floor fallback, per-(doc, class) integer sums,
    // argmax = min class among maxima.
    val scoreCtes =
      s"""classes AS (SELECT DISTINCT cls FROM cnts),
        |evalocc AS MATERIALIZED (
        |  SELECT doc_id, lang, token FROM occ WHERE $clsBucket >= 700),
        |pairs AS (
        |  SELECT e.doc_id, e.lang, cl.cls, coalesce(w.pts, f.fl) AS pts
        |  FROM evalocc e
        |  CROSS JOIN classes cl
        |  LEFT JOIN wt w ON w.token = e.token AND w.cls = cl.cls
        |  JOIN floors f ON f.cls = cl.cls),
        |persum AS (
        |  SELECT doc_id, lang, cls, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(pts) AS BIGINT) AS s
        |  FROM pairs GROUP BY 1, 2, 3),
        |chosen AS (
        |  SELECT doc_id, lang, n_tokens, cls AS pred, s AS pts,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, cls) AS rn
        |  FROM persum),
        |known AS (SELECT DISTINCT token FROM wt),
        |oovd AS (
        |  SELECT e.doc_id,
        |         CAST(sum(CASE WHEN kn.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS oov_tokens
        |  FROM evalocc e LEFT JOIN known kn USING (token) GROUP BY 1)""".stripMargin

    def fit(s: SparkSession, d: String) =
      Classify.fitTokenClassifier(Tables.documents(s, d), "doc_id", "text",
        "lang", 700, "cls")
    def evalDocs(s: SparkSession, d: String) =
      Tables.documents(s, d).filter(
        Sampling.bucketOf(col("doc_id"), "cls") >= 700)

    Seq(
      Q("llm_cls_train",
        // Model readout: top-10 highest-points tokens per class — the
        // interpretable artifact reviewers actually look at. The rank
        // window runs over the vocabulary-bounded weights table, never the
        // corpus.
        (s, d) => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("cls"))
            .orderBy(col("pts").desc, col("token"))
          fit(s, d).weightsLong
            .withColumn("rank", row_number().over(w).cast("long"))
            .filter(col("rank") <= 10)
            .select(col("cls"), col("token"), col("pts"), col("rank"))
        },
        Some(withCtes(normDocsCte, occCte, cntsCtes)(
          """SELECT cls, token, pts, rank FROM (
            |  SELECT cls, token, pts,
            |         CAST(row_number() OVER (PARTITION BY cls
            |                ORDER BY pts DESC, token) AS BIGINT) AS rank
            |  FROM wt) WHERE rank <= 10""".stripMargin))),

      Q("llm_cls_scores",
        // Held-out per-document classification: one broadcast join +
        // one doc-keyed aggregation with k points-sum columns (the class
        // dimension never multiplies the row count on the Spark side).
        (s, d) => Classify.classifyDocs(evalDocs(s, d), "doc_id", "text", fit(s, d)),
        Some(withCtes(normDocsCte, occCte, cntsCtes, scoreCtes)(
          """SELECT c.doc_id, c.n_tokens, c.pred, c.pts, o.oov_tokens
            |FROM chosen c JOIN oovd o USING (doc_id) WHERE rn = 1""".stripMargin))),

      Q("llm_cls_confusion",
        // Held-out confusion matrix: the classifier audit (k² bounded
        // rows). Exercises the full fit + score path end-to-end.
        (s, d) => Classify.confusionMatrix(Tables.documents(s, d), "doc_id",
          "text", "lang", 700, "cls"),
        Some(withCtes(normDocsCte, occCte, cntsCtes, scoreCtes)(
          """SELECT lang AS actual, pred, CAST(count(*) AS BIGINT) AS n_docs
            |FROM chosen WHERE rn = 1 GROUP BY 1, 2""".stripMargin))),

      Q("llm_lexical_diversity",
        (s, d) => TextOps.lexicalDiversity(Tables.documents(s, d), "text", "source"),
        Some(withCtes(normDocsCte,
          """socc AS (
            |  SELECT d.source, unnest(t.toks) AS token
            |  FROM tok_docs t JOIN documents d USING (doc_id)),
            |stc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
            |        FROM socc GROUP BY 1, 2),
            |sagg AS (
            |  SELECT source, CAST(sum(c) AS BIGINT) AS nt,
            |         CAST(count(*) AS BIGINT) AS ty,
            |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hp
            |  FROM stc GROUP BY 1)""".stripMargin)(
          """SELECT source, nt AS n_tokens, ty AS n_types, hp AS n_hapax,
            |       ty * 1000000 // nt AS ttr_ppm,
            |       hp * 1000000 // ty AS hapax_ppm
            |FROM sagg""".stripMargin))),

      Q("llm_freq_spectrum",
        (s, d) => TextOps.frequencySpectrum(Tables.documents(s, d), "text"),
        Some(withCtes(normDocsCte,
          """gocc AS (SELECT unnest(toks) AS token FROM tok_docs),
            |gtc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
            |        FROM gocc GROUP BY 1)""".stripMargin)(
          """SELECT CAST(length(CAST(c AS VARCHAR)) - 1 AS BIGINT) AS decade,
            |       CAST(count(*) AS BIGINT) AS n_types,
            |       CAST(sum(c) AS BIGINT) AS n_occurrences,
            |       CAST(min(c) AS BIGINT) AS min_freq,
            |       CAST(max(c) AS BIGINT) AS max_freq
            |FROM gtc GROUP BY 1""".stripMargin))),

      Q("ann_centroid_model",
        // Integer class centroids (k × dim bounded): element sums via one
        // (label, pos) aggregation, truncating-division means — exact in
        // both engines including negative sums.
        (s, d) => Classify.centroidModel(Tables.embeddings(s, d), 700, "cent")
          .select(col("clabel"), col("n"),
            concat_ws(",", expr("transform(mu, x -> CAST(x AS STRING))")).as("mu_str")),
        Some(withCtes(centQuantCte, centModelCtes)(
          "SELECT clabel, n, array_to_string(mu, ',') AS mu_str FROM cmodel"))),

      Q("ann_centroid_confusion",
        // Held-out nearest-centroid label audit: broadcast k-row centroid
        // table × eval vectors, int64 squared-L2 argmin, bounded confusion
        // rollup. The prototype-classifier complement to ann_label_purity's
        // kNN audit.
        (s, d) => Classify.centroidConfusion(Tables.embeddings(s, d), 700, "cent"),
        Some(withCtes(centQuantCte, centModelCtes,
          s"""cscored AS (
            |  SELECT e.vec_id, e.label, m.clabel,
            |         list_sum(list_transform(range(len(e.v)),
            |           i -> (e.v[i+1] - m.mu[i+1]) * (e.v[i+1] - m.mu[i+1]))) AS d2
            |  FROM (SELECT * FROM quant
            |        WHERE ${h60("'cent:' || CAST(vec_id AS VARCHAR)")} % 1000 >= 700) e
            |  CROSS JOIN cmodel m),
            |cchosen AS (
            |  SELECT vec_id, label, clabel,
            |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
            |  FROM cscored)""".stripMargin)(
          """SELECT label AS actual, clabel AS pred,
            |       CAST(count(*) AS BIGINT) AS n_vecs
            |FROM cchosen WHERE rn = 1 GROUP BY 1, 2""".stripMargin))),

      Q("ann_centroid_drift",
        // Embedding-distribution drift between two content-addressed
        // dataset halves (the embedding analog of llm_token_drift): per
        // label, the int64 squared-L2 between each half's class centroid —
        // a re-embed or distribution shift shows up as a per-class spike.
        // Two (label, pos)-bounded aggregations + a k-row join; labels
        // missing from either half drop symmetrically on both engines.
        (s, d) => {
          val emb = Tables.embeddings(s, d)
          val split = Sampling.bucketOf(col("vec_id"), "drift")
          Classify.centroidDrift(emb.filter(split < 500),
            emb.filter(split >= 500))
        },
        Some(withCtes(
          """quant AS MATERIALIZED (
            |  SELECT vec_id, label,
            |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            |  FROM embeddings)""".stripMargin,
          s"""aex AS (
            |  SELECT label, u.pos AS pos, u.x AS x
            |  FROM (SELECT label, unnest(list_transform(range(len(v)),
            |               i -> struct_pack(pos := i, x := v[i+1]))) AS u
            |        FROM quant
            |        WHERE ${h60("'drift:' || CAST(vec_id AS VARCHAR)")} % 1000 < 500)),
            |amodel AS (
            |  SELECT label AS clabel, max(n) AS n_a, list(s // n ORDER BY pos) AS mu
            |  FROM (SELECT label, pos, CAST(sum(x) AS BIGINT) AS s,
            |               CAST(count(*) AS BIGINT) AS n
            |        FROM aex GROUP BY 1, 2) GROUP BY 1),
            |bex AS (
            |  SELECT label, u.pos AS pos, u.x AS x
            |  FROM (SELECT label, unnest(list_transform(range(len(v)),
            |               i -> struct_pack(pos := i, x := v[i+1]))) AS u
            |        FROM quant
            |        WHERE ${h60("'drift:' || CAST(vec_id AS VARCHAR)")} % 1000 >= 500)),
            |bmodel AS (
            |  SELECT label AS clabel, max(n) AS n_b, list(s // n ORDER BY pos) AS mu
            |  FROM (SELECT label, pos, CAST(sum(x) AS BIGINT) AS s,
            |               CAST(count(*) AS BIGINT) AS n
            |        FROM bex GROUP BY 1, 2) GROUP BY 1)""".stripMargin)(
          """SELECT a.clabel, a.n_a, b.n_b,
            |       CAST(list_sum(list_transform(range(len(a.mu)),
            |         i -> (a.mu[i+1] - b.mu[i+1]) * (a.mu[i+1] - b.mu[i+1]))) AS BIGINT)
            |         AS drift_d2
            |FROM amodel a JOIN bmodel b USING (clabel)""".stripMargin)))
    )
  }

  /** Graph analytics and spectral/embedding-structure extraction — the
    * co-occurrence-mining and PCA tier (GraphOps, Pca), plus the
    * engagement-shape event rollups they're usually read next to. */
  def graphSpectral: Seq[Q] = {
    val ep = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"

    // Shared co-purchase backbone fragments (one definition — the four
    // graph oracles must never drift apart on what "the backbone" means).
    val coOpCte =
      """op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)""".stripMargin
    // mega-basket guard mirrors GraphOps.pairsFromBaskets maxBasket=1000:
    // oversized baskets never pair (no-op on this data — TPC-H orders
    // hold <= 7 parts — but the SEMANTICS must match the engine's)
    val coEdgesWCte =
      """edges AS MATERIALIZED (
        |  SELECT pa, pb, w FROM (
        |    SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS w
        |    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |    WHERE a.o IN (SELECT o FROM op GROUP BY o HAVING count(*) <= 1000)
        |    GROUP BY 1, 2)
        |  WHERE w >= 2)""".stripMargin
    val coDegCte =
      """deg AS MATERIALIZED (
        |  SELECT p, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
        |  GROUP BY 1)""".stripMargin

    /** DuckDB replay of Pca.dominantEigenvector: gram via range×range
      * lateral, then `rounds` chained MATERIALIZED (w, v) CTE pairs —
      * every multiply-referenced level materialized (round-9 session-2
      * rule a) so the denominator is fair. The final eigenvector lives in
      * CTE `v$rounds`. */
    def pcaCtes(dim: Int, quantScale: Long, rounds: Int): Seq[String] = {
      val roundCtes = (1 to rounds).flatMap { r =>
        val prev = if (r == 1) "v0" else s"v${r - 1}"
        Seq(
          s"""w$r AS MATERIALIZED (
            |  SELECT g.i AS i, CAST(sum(g.g * v.v) AS BIGINT) AS w
            |  FROM gram g JOIN $prev v ON g.j = v.i GROUP BY 1)""".stripMargin,
          s"""v$r AS MATERIALIZED (
            |  SELECT i, w // (SELECT greatest(1, CAST(max(abs(w)) AS BIGINT) // ${Pca.VScale})
            |                  FROM w$r) AS v
            |  FROM w$r)""".stripMargin)
      }
      Seq(
        s"""q AS MATERIALIZED (
          |  SELECT list_transform(embedding,
          |           x -> CAST(floor(CAST(x AS DOUBLE) * $quantScale) AS BIGINT)) AS q
          |  FROM embeddings
          |  WHERE len(embedding) = $dim
          |    AND len(list_filter(embedding, x -> x IS NULL)) = 0)""".stripMargin,
        s"""gram AS MATERIALIZED (
          |  SELECT r1.i AS i, r2.j AS j,
          |         CAST(sum(q.q[r1.i + 1] * q.q[r2.j + 1]) AS BIGINT)
          |           // (SELECT greatest(1, count(*)) FROM q) AS g
          |  FROM q, range($dim) r1(i), range($dim) r2(j)
          |  GROUP BY 1, 2)""".stripMargin,
        s"""v0 AS (SELECT r.i AS i, CAST(${Pca.VScale} AS BIGINT) AS v
          |        FROM range($dim) r(i))""".stripMargin) ++ roundCtes
    }
    def pcaOracleSql(dim: Int, quantScale: Long, rounds: Int): String =
      withCtes(pcaCtes(dim, quantScale, rounds): _*)(
        s"SELECT CAST(i AS INT) AS dim_idx, v AS component FROM v$rounds")

    Seq(
      Q("graph_triangles",
        // Part co-purchase graph from lineitem (min-support-2 backbone),
        // degree-ordered wedge-join triangle count — see GraphOps scaladoc
        // for why support pruning precedes graph algebra at 100 TB.
        (s, d) => GraphOps.triangleSummary(coEdges(s, d)),
        Some(withCtes(coOpCte, coEdgesWCte, coDegCte,
          """oriented AS MATERIALIZED (
            |  SELECT CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pa ELSE e.pb END AS ku,
            |         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pb ELSE e.pa END AS kv,
            |         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN db.d ELSE da.d END AS dv
            |  FROM edges e JOIN deg da ON da.p = e.pa JOIN deg db ON db.p = e.pb)""".stripMargin,
          """wedges AS (
            |  SELECT e1.kv AS k1, e2.kv AS k2
            |  FROM oriented e1 JOIN oriented e2
            |    ON e1.ku = e2.ku AND (e1.dv, e1.kv) < (e2.dv, e2.kv))""".stripMargin)(
          """SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
            |       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
            |       w.n_wedges, w.n_triangles
            |FROM (SELECT CAST(count(*) AS BIGINT) AS n_wedges,
            |             CAST(count(o.ku) AS BIGINT) AS n_triangles
            |      FROM wedges w LEFT JOIN oriented o
            |        ON w.k1 = o.ku AND w.k2 = o.kv) w""".stripMargin))),

      Q("graph_components",
        // Connected components of the support-2 backbone (communities of
        // co-purchased parts) via the engine's CC machinery — checked
        // against a DuckDB RECURSIVE transitive closure, a different
        // algorithm that must agree on every component.
        (s, d) => DedupOps.connectedComponents(coEdges(s, d), "pa", "pb")
          .groupBy(col("label").as("component_id"))
          .agg(count(lit(1)).as("n_nodes")),
        Some("WITH RECURSIVE " + Seq(coOpCte, coEdgesWCte,
          """bidir AS (
            |  SELECT pa AS src, pb AS dst FROM edges
            |  UNION SELECT pb, pa FROM edges)""".stripMargin,
          """reach(node, label) AS (
            |  SELECT src, src FROM bidir
            |  UNION
            |  SELECT e.src, r.label FROM bidir e JOIN reach r ON e.dst = r.node)""".stripMargin,
          """labels AS (SELECT node, min(label) AS label FROM reach GROUP BY node)""")
          .mkString(",\n") +
          "\nSELECT label AS component_id, CAST(count(*) AS BIGINT) AS n_nodes FROM labels GROUP BY 1"),
        ),

      Q("graph_degrees",
        // Degree spectrum of the backbone in Zipf decades (digit count —
        // no float log), the hub-structure report.
        (s, d) => {
          val edges = coEdges(s, d)
          edges.select(col("pa").as("p")).unionAll(edges.select(col("pb").as("p")))
            .groupBy(col("p")).agg(count(lit(1)).as("d"))
            .groupBy((length(col("d").cast("string")) - 1).cast("long").as("deg_decade"))
            .agg(count(lit(1)).as("n_nodes"),
              min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
        },
        Some(withCtes(coOpCte, coEdgesWCte, coDegCte)(
          """SELECT CAST(length(CAST(d AS VARCHAR)) - 1 AS BIGINT) AS deg_decade,
            |       CAST(count(*) AS BIGINT) AS n_nodes,
            |       min(d) AS min_deg, max(d) AS max_deg
            |FROM deg GROUP BY 1""".stripMargin))),

      Q("ann_pca_power",
        // Dominant eigenvector of the quantized-embedding Gram matrix:
        // one corpus aggregation (native gram_matrix, dim²-bounded
        // partials), then 5 integer power-iteration rounds driver-side.
        (s, d) => Pca.powerIteration(Tables.embeddings(s, d), "embedding",
          dim = 64, quantScale = 1000L, rounds = 5),
        Some(pcaOracleSql(dim = 64, quantScale = 1000L, rounds = 5))),

      Q("ann_spectral_hist",
        // Projection histogram onto the dominant eigenvector — the
        // embedding-collapse detector. One extra map-only pass with the
        // eigenvector broadcast as a literal; bucket-bounded output.
        (s, d) => Pca.spectralHistogram(Tables.embeddings(s, d), "embedding",
          dim = 64, quantScale = 1000L, rounds = 5),
        Some(withCtes(pcaCtes(dim = 64, quantScale = 1000L, rounds = 5) ++ Seq(
          """vlist AS MATERIALIZED (
            |  SELECT list(v ORDER BY i) AS vl FROM v5)""".stripMargin,
          s"""proj AS MATERIALIZED (
            |  SELECT CAST(list_sum(list_transform(range(64),
            |           j -> q.q[j + 1] * vlist.vl[j + 1])) AS BIGINT) AS proj
            |  FROM q, vlist)""".stripMargin): _*)(
          s"""SELECT proj // ${1L << 30} AS bucket,
            |       CAST(count(*) AS BIGINT) AS n,
            |       CAST(min(proj) AS BIGINT) AS min_proj,
            |       CAST(max(proj) AS BIGINT) AS max_proj
            |FROM proj GROUP BY 1""".stripMargin))),

      Q("graph_assoc_rules",
        // Apriori step-1 association rules on the support-2 co-purchase
        // backbone: both rule directions with exact-integer confidence
        // (bp) and division-first lift (ppm).
        (s, d) => GraphOps.associationRulesOnBaskets(coBaskets(s, d), coEdges(s, d)),
        Some(withCtes(coOpCte, coEdgesWCte,
          """itemn AS MATERIALIZED (
            |  SELECT p AS item, CAST(count(*) AS BIGINT) AS n_item
            |  FROM op GROUP BY 1)""".stripMargin,
          """total AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_tx FROM op)""",
          """bidir AS (
            |  SELECT pa AS ante, pb AS cons, w FROM edges
            |  UNION ALL
            |  SELECT pb AS ante, pa AS cons, w FROM edges)""".stripMargin)(
          """SELECT b.ante, b.cons, b.w, a.n_item AS n_ante, c.n_item AS n_cons,
            |       b.w * 10000 // a.n_item AS conf_bp,
            |       (b.w * 1000000 // a.n_item) * (SELECT n_tx FROM total)
            |         // c.n_item AS lift_ppm
            |FROM bidir b
            |JOIN itemn a ON a.item = b.ante
            |JOIN itemn c ON c.item = b.cons""".stripMargin))),

      Q("llm_shard_zonemap",
        // Layout-locality audit: zone maps of the SAME corpus under the
        // token-balanced hash-shuffled shard plan vs a fixed-width
        // id-range layout. Range shards show tight span_ppm (prunable);
        // hash shards show ~10⁶ (shuffle-balanced, unprunable) — the
        // both-layouts lakehouse trade-off, measured per shard.
        (s, d) => {
          // r21: the range layout needs ONLY doc_id — it reads its own
          // column-pruned scan instead of a checkpoint of the tokenize
          // pass; the tokenize-derived narrow projection then has a
          // single consumer (shardPlan, which checkpoints internally),
          // so the former eager corpus-scale checkpoint here is deleted.
          val based = TextOps.withNormToks(Tables.documents(s, d), "text")
          val nTokens = when(length(col("_norm")) === 0, 0L)
            .otherwise(size(col("_toks")).cast("long"))
          val narrow = based.select(col("doc_id"), nTokens.as("n_tokens"))
          val hashPlan = Assemble.shardPlan(narrow, "doc_id", "n_tokens",
              shardTokens = 2000L, salt = "shard")
            .select(lit("hash").as("layout"), col("shard_id"), col("doc_id"))
          val rangePlan = Tables.documents(s, d)
            .select(lit("range").as("layout"),
              expr("doc_id div 100").as("shard_id"), col("doc_id"))
          Assemble.zoneMap(hashPlan.unionAll(rangePlan),
            Seq("layout", "shard_id"), "doc_id")
        },
        Some(withCtes(normDocsCte,
          s"""zc AS MATERIALIZED (
            |  SELECT 'hash' AS layout,
            |         CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id, doc_id
            |  FROM (
            |    SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY hk, doc_id) AS cum
            |    FROM (
            |      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
            |             ${h60("'shard:' || CAST(doc_id AS VARCHAR)")} AS hk
            |      FROM tok_docs) t) c
            |  UNION ALL
            |  SELECT 'range', doc_id // 100, doc_id FROM documents)""".stripMargin,
          """g AS (SELECT greatest(max(doc_id) - min(doc_id), 1) AS gspan FROM zc)""")(
          """SELECT layout, shard_id, CAST(count(*) AS BIGINT) AS n_docs,
            |       min(doc_id) AS min_key, max(doc_id) AS max_key,
            |       (max(doc_id) - min(doc_id)) * 1000000 // (SELECT gspan FROM g) AS span_ppm
            |FROM zc GROUP BY 1, 2""".stripMargin))),

      Q("llm_quality_buckets",
        // Decile bucketing around bounded-state sample quantiles — the
        // map-only alternative to percentile-ranking the corpus.
        (s, d) => TextOps.qualityDecileBuckets(Tables.documents(s, d),
          "doc_id", "text"),
        Some(withCtes(normDocsCte,
          """scored AS MATERIALIZED (
            |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words
            |  FROM tok_docs)""".stripMargin,
          s"""samp AS MATERIALIZED (
            |  SELECT n_words AS v, doc_id AS i FROM scored
            |  ORDER BY ${h60("'qbuck:' || CAST(doc_id AS VARCHAR)")}, doc_id
            |  LIMIT 256)""".stripMargin,
          """cuts AS MATERIALIZED (
            |  SELECT q, v FROM
            |    (SELECT v, row_number() OVER (ORDER BY v, i) AS rn,
            |            count(*) OVER () AS n FROM samp),
            |    (SELECT unnest([10,20,30,40,50,60,70,80,90]) AS q)
            |  WHERE rn = greatest(1, CAST(ceil(q * n / 100.0) AS BIGINT)))""".stripMargin,
          """cutl AS (SELECT list(v ORDER BY v) AS vl FROM cuts)""",
          """b AS (
            |  SELECT len(list_filter(cutl.vl, c -> c <= s.n_words)) AS bucket,
            |         s.n_words
            |  FROM scored s, cutl)""".stripMargin)(
          """SELECT CAST(bucket AS BIGINT) AS bucket,
            |       CAST(count(*) AS BIGINT) AS n_docs,
            |       CAST(sum(n_words) AS BIGINT) AS sum_words,
            |       CAST(min(n_words) AS BIGINT) AS min_words,
            |       CAST(max(n_words) AS BIGINT) AS max_words
            |FROM b GROUP BY 1""".stripMargin))),

      Q("llm_budget_select",
        // Token-budget-constrained quality selection: best docs first
        // (stopword-ratio bp score) until 10k tokens. The oracle is the
        // single global window `cum OVER (ORDER BY score DESC, hash, id)`;
        // the engine runs score-domain rollup + driver cutoff + bucketed
        // prefix sum on the boundary score only — the comparison proves
        // the no-global-sort decomposition.
        (s, d) => {
          val scored = TextOps.qualityFeatures(Tables.documents(s, d), "text")
            .select(col("doc_id"),
              when(col("n_words") > 0,
                expr("CAST(stop_words AS BIGINT) * 10000 div n_words"))
                .otherwise(0L).as("score_bp"),
              col("n_words").cast("long").as("n_tokens"))
          Assemble.budgetSelect(scored, "doc_id", "score_bp", "n_tokens", 10000L)
        },
        Some(withCtes(normDocsCte,
          s"""scored AS MATERIALIZED (
            |  SELECT doc_id,
            |         CASE WHEN len(toks) = 0 THEN 0
            |              ELSE CAST(len(list_filter(toks, t -> t IN (${TextOps.Stopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT)
            |                   * 10000 // CAST(len(toks) AS BIGINT) END AS score,
            |         CAST(len(toks) AS BIGINT) AS n_tokens,
            |         ${h60("'budget:' || CAST(doc_id AS VARCHAR)")} AS hk
            |  FROM tok_docs)""".stripMargin,
          """c AS (
            |  SELECT doc_id, score, n_tokens,
            |         sum(n_tokens) OVER (ORDER BY score DESC, hk, doc_id) AS cum
            |  FROM scored)""".stripMargin)(
          """SELECT doc_id, CAST(score AS BIGINT) AS score, n_tokens
            |FROM c WHERE cum <= 10000""".stripMargin))),

      Q("q10_returned_revenue",
        // TPC-H Q10 shape: returned-item revenue per customer — three
        // fact joins sharing the orderkey/custkey shuffles + a broadcast
        // nation dim; deterministic top-20 tie-break on custkey.
        (s, d) => {
          val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          l.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
            .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
            .join(broadcast(Tables.nation(s, d)),
              col("c_nationkey") === col("n_nationkey"))
            .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
            .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("revenue_cents"))
            .orderBy(col("revenue_cents").desc, col("c_custkey"))
            .limit(20)
        },
        Some(s"""SELECT c_custkey, c_name, n_name,
          |       CAST(sum(${centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_cents
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)),

      Q("q13_order_distribution",
        // TPC-H Q13 shape: customer order-count distribution over a
        // FILTERED left join (urgent orders only, so the zero bucket is
        // populated) — the null-preserving join + two-level aggregation
        // every engine must get right. The second groupBy key space is
        // ≤ max-orders-per-customer, bounded.
        (s, d) => {
          val urgent = Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey"), col("o_orderkey"))
          Tables.customer(s, d).select(col("c_custkey"))
            .join(urgent, col("c_custkey") === col("o_custkey"), "left_outer")
            .groupBy(col("c_custkey"))
            .agg(count(col("o_orderkey")).as("c_count"))
            .groupBy(col("c_count"))
            .agg(count(lit(1)).as("custdist"))
        },
        Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
          |FROM (
          |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          |  FROM customer
          |  LEFT JOIN orders ON c_custkey = o_custkey
          |                  AND o_orderpriority = '1-URGENT'
          |  GROUP BY 1)
          |GROUP BY 1""".stripMargin)),

      Q("q18_large_orders",
        // TPC-H Q18 shape: large-quantity orders — aggregate lineitem
        // FIRST (the having filter runs on the orderkey rollup, so the
        // joins see only qualifying orders), then ride orders + customer.
        // Quantities are integral; summed as longs (floor'd in DuckDB,
        // which otherwise rounds double→int casts).
        (s, d) => {
          val qty = Tables.lineitem(s, d)
            .groupBy(col("l_orderkey"))
            .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
            .filter(col("sum_qty") > 180L)
          qty.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
            .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
            .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              tsSec(col("o_orderdate")).as("o_date"),
              cents(col("o_totalprice")).as("total_cents"), col("sum_qty"))
            .orderBy(col("sum_qty").desc, col("o_orderkey"))
            .limit(100)
        },
        Some(s"""SELECT c_name, c_custkey, o_orderkey,
          |       ${tsSecSql("o_orderdate")} AS o_date,
          |       ${centsSql("o_totalprice")} AS total_cents, sum_qty
          |FROM (
          |  SELECT l_orderkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
          |  FROM lineitem GROUP BY 1 HAVING sum_qty > 180) q
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin)),

      Q("q15_top_parts",
        // Top-3 parts per supplier by revenue: pair rollup, then the
        // BOUNDED topk_pairs aggregate per supplier — 3 pairs per
        // (partition, supplier) map-side, the shuffle carries only those.
        // A rank window here would re-shuffle and sort every pair row
        // (the max_by/topk doctrine); the oracle IS that window, so the
        // gate proves the bounded shape reproduces it.
        (s, d) => {
          val rev = Tables.lineitem(s, d)
            .groupBy(col("l_suppkey"), col("l_partkey"))
            .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("_rev"))
          rev.groupBy(col("l_suppkey"))
            .agg(expr("topk_pairs(_rev, l_partkey, 3)").as("_top"))
            .select(col("l_suppkey"),
              posexplode(col("_top")).as(Seq("_pos", "_p")))
            .select(col("l_suppkey"), col("_p.id").as("l_partkey"),
              col("_p.score").as("revenue_cents"),
              (col("_pos") + 1).cast("int").as("rnk"))
        },
        Some(s"""SELECT l_suppkey, l_partkey, revenue_cents, rnk FROM (
          |  SELECT l_suppkey, l_partkey, revenue_cents,
          |         row_number() OVER (PARTITION BY l_suppkey
          |           ORDER BY revenue_cents DESC, l_partkey) AS rnk
          |  FROM (
          |    SELECT l_suppkey, l_partkey,
          |           CAST(sum(${centsSql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_cents
          |    FROM lineitem GROUP BY 1, 2))
          |WHERE rnk <= 3""".stripMargin)),

      Q("dq_ref_integrity",
        // FK audit across the star schema: three child->parent relations,
        // each ONE key shuffle against the parent's distinct-keys
        // projection (broadcast when small) + a 1-row conditional agg.
        (s, d) => {
          val o = Profile.refIntegrity(Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey", "orders_customer")
          // both lineitem relations ride ONE fact scan (refIntegrityMulti)
          val l = Profile.refIntegrityMulti(Tables.lineitem(s, d), Seq(
            ("l_orderkey", Tables.orders(s, d), "o_orderkey", "lineitem_orders"),
            ("l_partkey", Tables.part(s, d), "p_partkey", "lineitem_part")))
          o.unionAll(l)
        },
        Some(Seq(
          ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"))
          .map { case (rel, c, ck, p, pk) =>
            s"""SELECT '$rel' AS relation,
              |       CAST(count(*) AS BIGINT) AS n_child,
              |       CAST(sum(CASE WHEN _pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
              |       CAST(sum(CASE WHEN _pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              |         * 1000000 // count(*) AS orphan_ppm
              |FROM $c LEFT JOIN (SELECT DISTINCT $pk AS _pk FROM $p) ON $ck = _pk""".stripMargin }
          .mkString("\nUNION ALL\n"))),

      Q("dq_key_skew",
        // Join-key skew probe on the event stream's user key: totals and
        // top-5 key masses from ONE key-rollup aggregation (bounded
        // topk_pairs state — never a window over every key).
        (s, d) => Profile.keySkew(Tables.events(s, d), "user_id", k = 5),
        Some(withCtes(
          """c AS MATERIALIZED (
            |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
            |  FROM events GROUP BY 1)""".stripMargin,
          """t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
            |             CAST(count(*) AS BIGINT) AS n_keys FROM c)""".stripMargin,
          """r AS (SELECT key, n,
            |        row_number() OVER (ORDER BY n DESC, key) AS rnk FROM c)""".stripMargin)(
          """SELECT t.n_rows, t.n_keys, CAST(rnk AS BIGINT) AS rank, key,
            |       n AS key_rows, n * 1000000 // t.n_rows AS mass_ppm
            |FROM r, t WHERE rnk <= 5""".stripMargin))),

      Q("ev_gap_histogram",
        // Integer-exact log2 histogram of per-user inter-event gaps:
        // bucket = bit length of the gap (length(bin(gap)) in BOTH
        // engines — no float log anywhere), zero gaps in bucket 0.
        (s, d) => Funnel.gapHistogram(Tables.events(s, d), "ts", "user_id",
          "event_id"),
        Some {
          val ep = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"
          withCtes(
            s"""gaps AS MATERIALIZED (
              |  SELECT ep - lag(ep) OVER (PARTITION BY user_id
              |           ORDER BY ep, event_id) AS gap
              |  FROM (SELECT user_id, event_id, $ep AS ep FROM events))""".stripMargin,
            """b AS MATERIALIZED (
              |  SELECT CAST(CASE WHEN gap = 0 THEN 0
              |              ELSE length(bin(gap)) END AS BIGINT) AS bucket,
              |         CAST(count(*) AS BIGINT) AS n_gaps,
              |         min(gap) AS min_gap, max(gap) AS max_gap
              |  FROM gaps WHERE gap IS NOT NULL GROUP BY 1)""".stripMargin,
            """t AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS tot FROM b)""")(
            """SELECT bucket, n_gaps, min_gap, max_gap,
              |       n_gaps * 10000 // (SELECT tot FROM t) AS share_bp
              |FROM b""".stripMargin)
        }),

      Q("dedup_simhash_pairs",
        // Manku-banded simhash near-dup pairs: 60-bit fingerprint,
        // 4×15-bit band buckets → candidate pairs (mega-bucket cap rides
        // along) → hamming ≤ 3 verify on candidates only.
        (s, d) => DedupOps.simhashPairs(Tables.documents(s, d), "doc_id", "text"),
        Some {
          val bits = (0 until 60).map(i =>
            s"CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << i} ELSE 0 END")
            .mkString(" + ")
          withCtes(normDocsCte,
            s"""tok_h AS (
              |  SELECT doc_id, ${h60("t.tok")} AS h
              |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok_docs) t)""".stripMargin,
            s"""sim AS MATERIALIZED (
              |  SELECT doc_id, CAST($bits AS BIGINT) AS simhash
              |  FROM tok_h GROUP BY doc_id)""".stripMargin,
            """banded AS MATERIALIZED (
              |  SELECT doc_id, b.band, (simhash >> (15 * b.band)) & 32767 AS bucket
              |  FROM sim, range(4) b(band))""".stripMargin,
            """ok_buckets AS (
              |  SELECT band, bucket FROM banded GROUP BY 1, 2
              |  HAVING count(*) > 1 AND count(*) <= 1000)""".stripMargin,
            """cand AS MATERIALIZED (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a
              |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              |              AND a.doc_id < b.doc_id
              |  JOIN ok_buckets o ON o.band = a.band AND o.bucket = a.bucket)""".stripMargin)(
            """SELECT id_a, id_b,
              |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
              |FROM cand
              |JOIN sim sa ON sa.doc_id = id_a
              |JOIN sim sb ON sb.doc_id = id_b
              |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin)
        }),

      Q("ev_top_paths",
        // First-5-event session paths with a support floor — the "how do
        // sessions flow" rollup over the one user-keyed session window.
        (s, d) => Funnel.topPaths(Tables.events(s, d), "ts", "user_id",
          "event_type", "event_id"),
        Some(withCtes(
          s"""ev AS MATERIALIZED (
            |  SELECT user_id, $ep AS ep_s, event_type, event_id
            |  FROM events)""".stripMargin,
          """marked AS MATERIALIZED (
            |  SELECT user_id, ep_s, event_type, event_id,
            |         CASE WHEN ep_s - lag(ep_s) OVER
            |                (PARTITION BY user_id ORDER BY ep_s, event_id) <= 1800
            |              THEN 0 ELSE 1 END AS new_sess
            |  FROM ev)""".stripMargin,
          """sess AS MATERIALIZED (
            |  SELECT user_id, ep_s, event_type, event_id,
            |         sum(new_sess) OVER (PARTITION BY user_id
            |           ORDER BY ep_s, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
            |  FROM marked)""".stripMargin,
          """pathed AS (
            |  SELECT user_id, session_idx,
            |         string_agg(event_type, '>' ORDER BY ep_s, event_id) AS path
            |  FROM (SELECT user_id, session_idx, event_type, ep_s, event_id,
            |               row_number() OVER (PARTITION BY user_id, session_idx
            |                 ORDER BY ep_s, event_id) AS rn
            |        FROM sess)
            |  WHERE rn <= 5 GROUP BY 1, 2)""".stripMargin)(
          """SELECT path, CAST(count(*) AS BIGINT) AS sessions
            |FROM pathed GROUP BY 1 HAVING count(*) >= 2""".stripMargin))),

      Q("ev_cohort_ltv",
        // Cohort LTV curve: first-seen-week cohorts, purchase revenue by
        // week offset, cumulative, per-user-normalized (truncating div).
        (s, d) => Funnel.cohortLtv(Tables.events(s, d), "ts", "user_id",
          "event_type", "value"),
        Some(withCtes(
          s"""ev AS MATERIALIZED (
            |  SELECT user_id, $ep // 604800 AS wk, event_type,
            |         CAST(floor(value * 100) AS BIGINT) AS v_cents
            |  FROM events)""".stripMargin,
          """cohorts AS MATERIALIZED (
            |  SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1)""".stripMargin,
          """sizes AS (SELECT cohort_week,
            |              CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_users
            |        FROM cohorts GROUP BY 1)""".stripMargin,
          """rev AS (
            |  SELECT f.cohort_week, e.wk - f.cohort_week AS week_offset,
            |         CAST(sum(v_cents) AS BIGINT) AS rev_cents
            |  FROM ev e JOIN cohorts f USING (user_id)
            |  WHERE event_type = 'purchase' GROUP BY 1, 2)""".stripMargin,
          """cum AS (
            |  SELECT cohort_week, week_offset, rev_cents,
            |         CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
            |           ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
            |  FROM rev)""".stripMargin)(
          """SELECT c.cohort_week, week_offset, rev_cents, cum_cents,
            |       s.cohort_users, cum_cents // s.cohort_users AS ltv_cents_per_user
            |FROM cum c JOIN sizes s USING (cohort_week)""".stripMargin))),

      Q("ev_error_rates",
        // Daily + trailing-7-day error rates in bp over the
        // calendar-bounded daily rollup (RANGE frame — gap days age out
        // by value).
        (s, d) => Funnel.errorRates(Tables.events(s, d), "ts", "event_type"),
        Some(withCtes(
          s"""daily AS MATERIALIZED (
            |  SELECT $ep // 86400 AS day_idx,
            |         CAST(count(*) AS BIGINT) AS n_total,
            |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
            |  FROM events GROUP BY 1)""".stripMargin)(
          """SELECT day_idx, n_total, n_err,
            |       n_err * 10000 // n_total AS rate_bp,
            |       CAST(sum(n_total) OVER (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING
            |         AND CURRENT ROW) AS BIGINT) AS roll_total,
            |       CAST(sum(n_err) OVER (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING
            |         AND CURRENT ROW) AS BIGINT) AS roll_err,
            |       CAST(sum(n_err) OVER (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING
            |         AND CURRENT ROW) AS BIGINT) * 10000
            |         // CAST(sum(n_total) OVER (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING
            |            AND CURRENT ROW) AS BIGINT) AS roll_rate_bp
            |FROM daily""".stripMargin))),

      Q("llm_source_quality_matrix",
        // Source × corpus-wide quality decile matrix with per-source
        // share in bp — which feed supplies the short-doc tail.
        (s, d) => TextOps.sourceQualityMatrix(Tables.documents(s, d),
          "doc_id", "text", "source"),
        Some(withCtes(normDocsCte,
          """scored AS MATERIALIZED (
            |  SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_words, d.source
            |  FROM tok_docs t JOIN documents d ON d.doc_id = t.doc_id)""".stripMargin,
          s"""samp AS MATERIALIZED (
            |  SELECT n_words AS v, doc_id AS i FROM scored
            |  ORDER BY ${h60("'qbuck:' || CAST(doc_id AS VARCHAR)")}, doc_id
            |  LIMIT 256)""".stripMargin,
          """cuts AS MATERIALIZED (
            |  SELECT q, v FROM
            |    (SELECT v, row_number() OVER (ORDER BY v, i) AS rn,
            |            count(*) OVER () AS n FROM samp),
            |    (SELECT unnest([10,20,30,40,50,60,70,80,90]) AS q)
            |  WHERE rn = greatest(1, CAST(ceil(q * n / 100.0) AS BIGINT)))""".stripMargin,
          """cutl AS (SELECT list(v ORDER BY v) AS vl FROM cuts)""",
          """cells AS MATERIALIZED (
            |  SELECT source,
            |         CAST(len(list_filter(cutl.vl, c -> c <= s.n_words)) AS BIGINT) AS bucket,
            |         CAST(count(*) AS BIGINT) AS n_docs
            |  FROM scored s, cutl GROUP BY 1, 2)""".stripMargin)(
          """SELECT source, bucket, n_docs,
            |       CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS source_total,
            |       n_docs * 10000
            |         // CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS share_bp
            |FROM cells""".stripMargin))),

      Q("ev_winsorized",
        // Robust (p05/p95-clamped) revenue totals per event type around
        // DETERMINISTIC per-type sample quantiles — k-bounded sketch
        // state, broadcast clamp, exact integers.
        (s, d) => Funnel.winsorizedRevenue(Tables.events(s, d), "event_type",
          "event_id", "value"),
        Some(withCtes(
          """ev AS MATERIALIZED (
            |  SELECT event_type, event_id,
            |         CAST(floor(value * 100) AS BIGINT) AS v_cents
            |  FROM events)""".stripMargin,
          s"""samp AS MATERIALIZED (
            |  SELECT event_type, v_cents, event_id FROM (
            |    SELECT event_type, v_cents, event_id,
            |           row_number() OVER (PARTITION BY event_type
            |             ORDER BY ${h60("'ws:' || CAST(event_id AS VARCHAR)")}, event_id) AS hrn
            |    FROM ev) WHERE hrn <= 256)""".stripMargin,
          """cuts AS MATERIALIZED (
            |  SELECT event_type,
            |         max(CASE WHEN rn = greatest(1, CAST(ceil(5 * n / 100.0) AS BIGINT))
            |                  THEN v_cents END) AS lo_cents,
            |         max(CASE WHEN rn = greatest(1, CAST(ceil(95 * n / 100.0) AS BIGINT))
            |                  THEN v_cents END) AS hi_cents
            |  FROM (SELECT event_type, v_cents,
            |               row_number() OVER (PARTITION BY event_type
            |                 ORDER BY v_cents, event_id) AS rn,
            |               count(*) OVER (PARTITION BY event_type) AS n
            |        FROM samp) s
            |  GROUP BY 1)""".stripMargin)(
          """SELECT e.event_type, c.lo_cents, c.hi_cents,
            |       CAST(count(*) AS BIGINT) AS n_events,
            |       CAST(sum(v_cents) AS BIGINT) AS raw_cents,
            |       CAST(sum(least(greatest(v_cents, lo_cents), hi_cents)) AS BIGINT) AS wins_cents,
            |       CAST(sum(CASE WHEN least(greatest(v_cents, lo_cents), hi_cents) <> v_cents
            |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
            |FROM ev e JOIN cuts c USING (event_type)
            |GROUP BY 1, 2, 3""".stripMargin))),

      Q("ev_stickiness",
        // Weekly avg-DAU/WAU engagement in basis points; corpus collapses
        // in the (user, day) distinct (Funnel.stickiness scaladoc).
        (s, d) => Funnel.stickiness(Tables.events(s, d), "ts", "user_id"),
        Some(withCtes(
          s"""base AS MATERIALIZED (
            |  SELECT DISTINCT user_id, $ep // 86400 AS day_idx FROM events)""".stripMargin,
          """b2 AS MATERIALIZED (
            |  SELECT user_id, day_idx, day_idx // 7 AS week_idx FROM base)""".stripMargin,
          """dau AS (SELECT week_idx, day_idx, CAST(count(*) AS BIGINT) AS dau
            |        FROM b2 GROUP BY 1, 2)""".stripMargin,
          """wk AS (SELECT week_idx, CAST(sum(dau) AS BIGINT) AS sum_dau,
            |              CAST(count(*) AS BIGINT) AS active_days
            |       FROM dau GROUP BY 1)""".stripMargin,
          """wau AS (SELECT week_idx, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            |        FROM b2 GROUP BY 1)""".stripMargin)(
          """SELECT week_idx, wk.sum_dau, wk.active_days, wau.wau,
            |       wk.sum_dau * 10000 // (7 * wau.wau) AS stickiness_bp
            |FROM wk JOIN wau USING (week_idx)""".stripMargin))),

      Q("ev_seasonality",
        // Weekday share index per event type in basis points over the
        // |types|×7-bounded rollup; weekday = epoch_day % 7 (0=Thursday),
        // a pure integer bucket identical in both engines.
        (s, d) => Funnel.weekdaySeasonality(Tables.events(s, d), "ts", "event_type"),
        Some(withCtes(
          s"""c AS (
            |  SELECT event_type, ($ep // 86400) % 7 AS weekday_idx,
            |         CAST(count(*) AS BIGINT) AS n
            |  FROM events GROUP BY 1, 2)""".stripMargin)(
          """SELECT event_type, weekday_idx, n,
            |       CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS type_total,
            |       n * 7 * 10000
            |         // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS season_bp
            |FROM c""".stripMargin)))
    )
  }

  def all: Seq[Q] = text ++ dedup ++ ann ++ embDedup ++ multimodal ++ tpch ++
    timeWindows ++ pipeline ++ assemble ++ eventsAnalytics ++ retrieval ++
    textAnalysis2 ++ classifiers ++ graphSpectral
}
