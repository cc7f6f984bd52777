package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-occurrence graph analytics over relational tables: build an item
  * co-occurrence ("co-purchase") graph from a fact table, then count
  * triangles with the classic degree-ordered wedge join — the distributed
  * formulation (Suri & Vassilvitskii's MR triangle counting; also the
  * shape Spark GraphFrames uses) whose wedge count is bounded by
  * Σ C(out-deg, 2) with out-degrees capped near √|E| by the ordering.
  *
  * Scale shapes, deliberately:
  *  - Pair generation is ROW-LOCAL: group the fact table once by the
  *    transaction key, collect the (bounded, domain-capped) distinct item
  *    set, and explode the within-group pairs with the native
  *    `pair_structs` expression (one JVM loop per basket; oversized
  *    baskets dropped by the maxBasket guard). An order in this domain
  *    holds ≤ 7 items (TPC-H order shape) — never a self-join scan of
  *    the fact table and never an occurrence-scale shuffle beyond the
  *    one transaction-keyed aggregation.
  *  - Min-support pruning (`w ≥ minSupport`) happens BEFORE any graph
  *    algebra. On a 100 TB basket corpus the support-1 co-occurrence
  *    graph is quadratic noise (measured here: sf0.1 has 1.19 M support-1
  *    edges vs 3.6 k support-2 edges, and the support-1 wedge set is 41 M
  *    rows / 10+ s in either engine); the support-k backbone is the graph
  *    a recommender or fraud pipeline actually mines, and it is what
  *    makes the wedge join tractable at any scale.
  *  - Orientation by the total order (degree, id) turns the undirected
  *    graph into a DAG whose out-degrees are √|E|-capped, so the wedge
  *    join at a hub enumerates C(out-deg, 2), not C(deg, 2) — the
  *    difference between a star node costing |deg|² and costing |E|.
  *  - The backbone edge set and the oriented edge set each feed 2+
  *    subtrees → `localCheckpoint` (round-4 rule d); both are
  *    support-pruned backbone-scale, not corpus-scale.
  */
object GraphOps {

  /** The per-txn distinct item sets (collect_set dedups within-txn
    * repeats; sort_array makes pair order canonical positionally). Rows
    * with a NULL transaction key are dropped up front (r15 review: the
    * branches previously disagreed — the pair explode's groupBy kept the
    * null-key group while the countDistinct branches excluded it; no
    * gated change feed produces null keys, so the uniform rule is "no
    * key, no basket"). */
  private def basketsOf(rows: DataFrame): DataFrame =
    rows.filter(col("_txn").isNotNull)
      .groupBy(col("_txn"))
      .agg(sort_array(collect_set(col("item").cast("long"))).as("_items"))

  /** Support-counted canonical `pa < pb` pairs from a basket table — ONE
    * definition shared by [[coOccurrenceEdges]], [[edgesFromBaskets]] and
    * [[associationRules]] (r15 review). The pair build is the native
    * `pair_structs` expression — the equivalent nested
    * `transform(slice(...))` HOF chain runs INTERPRETED per element and
    * measured ~2.5× slower for the explode stage (GraphProf sf0.1, both
    * orders). `maxBasket` is the mega-basket skew guard (same contract as
    * [[DedupOps.candidatePairs]]'s maxBucket): a bot basket with 100k
    * items would cost C(n,2) pairs — quadratic memory AND support-count
    * noise — so oversized baskets are dropped from PAIRING (item supports
    * and n_tx still count them), with the drop count observed as
    * `graft.graph.baskets` / `mega_baskets_dropped`. */
  private def pairsFromBaskets(baskets: DataFrame, minSupport: Int,
                               maxBasket: Int): DataFrame =
    baskets
      .observe("graft.graph.baskets",
        sum(when(size(col("_items")) > maxBasket, 1L).otherwise(0L))
          .as("mega_baskets_dropped"))
      .filter(size(col("_items")) <= maxBasket)
      .select(explode(expr("pair_structs(_items)")).as("_e"))
      .select(col("_e.pa").as("pa"), col("_e.pb").as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)

  /** Distinct item pairs co-occurring in a transaction, with the number of
    * transactions supporting each pair; `pa < pb` canonical. `minSupport`
    * prunes to the co-occurrence backbone (see object scaladoc). */
  def coOccurrenceEdges(fact: DataFrame, txnCol: String, itemCol: String,
                        minSupport: Int, maxBasket: Int = 1000): DataFrame =
    pairsFromBaskets(basketTable(fact, txnCol, itemCol), minSupport, maxBasket)

  /** Basket table (txn → sorted distinct item array) — exposed so a
    * registry can persist ONE basket table across the whole co-purchase
    * query family (r15 rule a: triangles, components, degrees, and
    * association rules all derive from this one corpus-scale shuffle;
    * re-deriving it per query paid the lineitem scan + basket aggregation
    * four times per bench run). */
  def basketTable(fact: DataFrame, txnCol: String, itemCol: String): DataFrame =
    basketsOf(fact.select(col(txnCol).as("_txn"), col(itemCol).as("item")))

  /** Support-pruned co-occurrence backbone from a [[basketTable]]. */
  def edgesFromBaskets(baskets: DataFrame, minSupport: Int,
                       maxBasket: Int = 1000): DataFrame =
    pairsFromBaskets(baskets, minSupport, maxBasket)

  /** [[associationRules]] over pre-built (typically session-persisted)
    * basket + backbone tables, minus the per-query derivation. The per-item
    * basket count equals countDistinct(txn) because `collect_set` deduped
    * within each basket; mega baskets still count here and in n_tx (the
    * maxBasket guard is pairing-only). */
  def associationRulesOnBaskets(baskets: DataFrame, edges: DataFrame): DataFrame = {
    val itemN = baskets.select(explode(col("_items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      .localCheckpoint() // joined on both rule sides
    edges.select(col("pa").as("ante"), col("pb").as("cons"), col("w"))
      .unionAll(edges.select(col("pb").as("ante"), col("pa").as("cons"), col("w")))
      .join(itemN.select(col("item").as("ante"), col("n_item").as("n_ante")), Seq("ante"))
      .join(itemN.select(col("item").as("cons"), col("n_item").as("n_cons")), Seq("cons"))
      .crossJoin(broadcast(baskets.agg(count(lit(1)).as("n_tx"))))
      .select(col("ante"), col("cons"), col("w"), col("n_ante"), col("n_cons"),
        expr("w * 10000 div n_ante").as("conf_bp"),
        expr("(w * 1000000 div n_ante) * n_tx div n_cons").as("lift_ppm"))
  }

  /** Pairwise association rules over the support-pruned co-occurrence
    * backbone (the Apriori step-1 surface a recommender mines):
    * both directions of every backbone edge, with exact-integer
    * confidence (`w · 10000 div n_ante` basis points) and lift
    * (`(w · 10⁶ div n_ante) · n_tx div n_cons` ppm — division-FIRST so
    * the intermediate stays ≤ 10⁶ · n_tx; safe through ~10¹² baskets,
    * past which drop to 10³-scale lift units).
    *
    * Scale shape: one transaction-keyed aggregation for the pair explode
    * (row-local, domain-capped baskets — see [[coOccurrenceEdges]]), one
    * item-keyed count, then joins that run on the support-pruned backbone
    * and the item table, never the fact table. The bounded backbone and
    * item tables each feed two subtrees → `localCheckpoint` (round-4
    * rule d). The FACT projection is deliberately NOT deduped-and-
    * checkpointed (r12 A/B, both orders: a wash at sf0.1 warm — 1.8-2.4 s
    * either way): `collect_set` already dedups within-basket, so the
    * pairs branch needs no distinct at all. */
  def associationRules(fact: DataFrame, txnCol: String, itemCol: String,
                       minSupport: Int, maxBasket: Int = 1000): DataFrame = {
    // ONE corpus-scale shuffle (round 15). The per-txn distinct item sets
    // the pair explode needs anyway ARE the dedup the item counts need
    // (`collect_set` makes per-item basket counts equal countDistinct(txn))
    // and the row set n_tx counts — so materialize the txn-scale basket
    // table once and derive all three branches from it, where the previous
    // shape re-scanned and re-aggregated the corpus per branch (pair agg +
    // item countDistinct + global countDistinct = 3 corpus passes). Baskets
    // are txn-scale, each array domain-capped — orders of magnitude below
    // occurrence scale, so this is NOT the round-12 rule (d) wash case
    // (that measured checkpointing the occurrence-scale (txn, item)
    // projection; here the checkpoint sits ABOVE the shuffle and consumers
    // skip the corpus entirely). Same-JVM A/B both orders (GraphProf, sf0.1
    // warm): baskets 1.53-2.00 s vs rescan 2.27-2.59 s vs occurrence-ckpt
    // 2.34-3.35 s; identical 7146-row output.
    val baskets = basketTable(fact, txnCol, itemCol)
      .localCheckpoint() // feeds pairs, item counts, and n_tx
    val edges = pairsFromBaskets(baskets, minSupport, maxBasket)
      .localCheckpoint() // both directions of the union read it
    associationRulesOnBaskets(baskets, edges)
  }

  /** Degree-ordered triangle count over an undirected edge list
    * (`pa`/`pb`, canonical `pa < pb`): one summary row with node, edge,
    * wedge, and triangle counts. Nodes are totally ordered by the
    * LEXICOGRAPHIC (degree, id) pair — compared directly, never packed
    * into one long (a `deg·C + id` key silently collides once ids reach
    * C) — edges oriented low→high, wedges joined at the low hub and
    * closed against the oriented set. Every triangle {x<y<z in rank
    * order} is counted exactly once: as the wedge (y,z) at hub x closed
    * by the oriented edge y→z. The oriented set carries each endpoint's
    * degree so the wedge pair order (v1 before v2) uses the same
    * (degree, id) order without a re-join. */
  /** Integer-exact PageRank power iteration over a BOUNDED node alphabet —
    * the shared core of [[Funnel.typePageRank]] (event-type graph) and
    * [[pageRank]] (domain graph). Ranks and edge probabilities are ppm
    * integers; every step uses truncating division (`r·p div 1e6` per
    * edge, then sum — associative), dangling mass redistributes uniformly.
    * Pure driver arithmetic on alphabet²-bounded state: call it only with
    * edge lists whose node domain is a bounded alphabet (event types,
    * registrable domains, language codes), never corpus-scale ids. */
  def pageRankIterate(edges: Seq[(String, String, Long)], nodes: Seq[String],
                      iters: Int, dampPpm: Long): Seq[(String, Long)] = {
    require(nodes.nonEmpty, "pageRankIterate: no nodes")
    val n = nodes.length.toLong
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pPpm = edges.map { case (f, t, c) => (f, t, c * 1000000L / out(f)) }
    val base = (1000000L - dampPpm) * 1000000L / n
    var r: Map[String, Long] = nodes.map(_ -> 1000000L / n).toMap
    (1 to iters).foreach { _ =>
      val dang = nodes.filter(v => !out.contains(v)).map(r).sum
      val contrib = pPpm.groupBy(_._2).view.mapValues(
        _.map { case (f, _, p) => r(f) * p / 1000000L }.sum).toMap
      r = nodes.map(v =>
        v -> (base + dampPpm * (contrib.getOrElse(v, 0L) + dang / n)) / 1000000L)
        .toMap
    }
    nodes.map(v => (v, r(v)))
  }

  /** Distinct-edge count under which [[pageRank]] iterates on the driver
    * (one bounded collect of the edge AGGREGATE, never the edge table);
    * above it the distributed power iteration runs. Override via
    * SPARK_GRAFT_PR_SMALL_CAP; 0 disables the driver path. */
  val prSmallEdgeCap: Int =
    sys.env.get("SPARK_GRAFT_PR_SMALL_CAP").map(_.toInt).getOrElse(65536)

  /** PageRank over an arbitrary (src, dst) edge table — e.g. the
    * registrable-domain link graph, the crawl-curation authority signal
    * (a low-authority template farm scores near the dangling floor no
    * matter how many URLs it mints, which raw doc counts cannot see).
    * The corpus-scale work is ONE (src, dst) aggregation (map-side
    * combined); what happens next is cap-probe dispatched on the SIZE of
    * that aggregate, because "registrable domains" is only alphabet-
    * bounded until the input is a 100 TB crawl (~10⁸ domains, ≥10⁹
    * distinct domain-edges — a driver OOM on the old unconditional
    * collect):
    *  - ≤ `edgeCap` distinct edges: `take(cap+1)` (reads at most cap+1
    *    aggregate rows off the checkpoint) already holds the whole graph,
    *    so [[pageRankIterate]] runs on the driver in microseconds — the
    *    iterative-trainer doctrine (round-9 rule h), saving 8 rounds of
    *    job floor on toy alphabets (event types, languages, fixtures).
    *  - over the cap: [[pageRankOnCounts]], the distributed power
    *    iteration — bit-identical integer arithmetic (spec-pinned
    *    driver ≡ distributed), so the dispatch is invisible to callers
    *    and to the oracle.
    * Nodes are the UNION of edge endpoints: a dst-only domain (linked to,
    * never crawled) is a dangling node and receives uniform base mass. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 8, dampPpm: Long = 850000L,
               edgeCap: Int = prSmallEdgeCap): DataFrame = {
    val tr = edges.select(col(srcCol).as("f"), col(dstCol).as("t"))
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // probed, then read by whichever path wins
    pageRankDispatch(tr, None, iters, dampPpm, edgeCap)
  }

  /** The cap-probe dispatch core shared by [[pageRank]] (endpoint-union
    * nodes) and Funnel.typePageRank (explicit node table — distinct event
    * types INCLUDING isolated ones, which endpoint union cannot see: a
    * type occurring only as some user's sole event has no transition but
    * still receives base mass, and n changes every rank). `tr` must be the
    * pre-aggregated (f, t, cnt) edge table, localCheckpointed by the
    * caller (it is probed AND read by whichever path wins). When a node
    * table is supplied it is cap-probed too — both the edge aggregate and
    * the node table must fit for the driver fast path; either over cap →
    * distributed power iteration with the same node semantics. */
  def pageRankDispatch(tr: DataFrame, nodesDf: Option[DataFrame],
                       iters: Int, dampPpm: Long,
                       edgeCap: Int = prSmallEdgeCap): DataFrame = {
    val spark = tr.sparkSession
    import spark.implicits._
    val head = if (edgeCap > 0) tr.take(edgeCap + 1) else Array.empty[org.apache.spark.sql.Row]
    if (edgeCap > 0 && head.length <= edgeCap) {
      val agg = head.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nodes = nodesDf match {
        case None => Some(agg.flatMap(e => Seq(e._1, e._2)).distinct.sorted)
        case Some(nd) =>
          val nh = nd.select(col("node")).take(edgeCap + 1)
          if (nh.length <= edgeCap) Some(nh.map(_.getString(0)).distinct.sorted.toSeq)
          else None // node alphabet over cap: the edge probe fit but nodes don't
      }
      nodes match {
        case Some(ns) =>
          pageRankIterate(agg, ns, iters, dampPpm).toDF("node", "rank_ppm")
        case None => pageRankOnCounts(tr, iters, dampPpm, nodesDf)
      }
    } else pageRankOnCounts(tr, iters, dampPpm, nodesDf)
  }

  /** Distributed power iteration over a pre-aggregated (f, t, cnt) edge
    * table — the over-cap path of [[pageRank]], for node alphabets that
    * are NOT driver-bounded (the 100 TB crawl's domain graph). Reuses the
    * iterative-CC machinery shape (DedupOps.connectedComponentsStarDistributed):
    * per round ONE rank-table join + per-dst aggregation, with the
    * dangling mass folded in as a broadcast 1-row aggregate in the SAME
    * job (no per-round driver collect; the only scalar on the driver is
    * n). Every arithmetic step is the exact truncating-integer form of
    * [[pageRankIterate]] — `r·p_ppm div 1e6` per edge, summed, then
    * `(base + damp·(contrib + dang div n)) div 1e6` — so the two paths
    * are bit-identical (GraphOpsSpec pins equality and the dispatch
    * flip). Each round's rank table is localCheckpointed: it feeds the
    * contrib join AND the dangling anti-join, and the lineage would
    * otherwise deepen by two joins per round. */
  def pageRankOnCounts(tr: DataFrame, iters: Int,
                       dampPpm: Long = 850000L,
                       nodesDf: Option[DataFrame] = None): DataFrame = {
    val nodes = nodesDf.map(_.select(col("node")))
      .getOrElse(tr.select(col("f").as("node"))
        .union(tr.select(col("t").as("node"))))
      .distinct().localCheckpoint() // re-read every round
    val n = nodes.count()
    require(n > 0, "pageRankOnCounts: no nodes")
    val out = tr.groupBy(col("f")).agg(sum(col("cnt")).as("outc"))
      .localCheckpoint() // p_ppm build + per-round dangling anti-join
    val p = tr.join(out, "f")
      .select(col("f"), col("t"), expr("cnt * 1000000 div outc").as("p_ppm"))
      .localCheckpoint() // joined every round
    val base = (1000000L - dampPpm) * 1000000L / n
    var r = nodes.select(col("node"), lit(1000000L / n).as("r"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val dang = r.join(out.select(col("f").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      val contrib = r.join(p, col("node") === col("f"))
        .select(col("t"), expr("r * p_ppm div 1000000").as("c"))
        .groupBy(col("t")).agg(sum(col("c")).as("contrib"))
      r = nodes
        .join(contrib.select(col("t").as("node"), col("contrib")), Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          expr(s"($base + $dampPpm * (coalesce(contrib, 0) + dang div $n)) " +
            "div 1000000").as("r"))
        .localCheckpoint()
    }
    r.select(col("node"), col("r").as("rank_ppm"))
  }

  def triangleSummary(edges: DataFrame): DataFrame = {
    val e = edges.select(col("pa"), col("pb")).localCheckpoint()
    val deg = e.select(col("pa").as("p"))
      .unionAll(e.select(col("pb").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // joined twice into ranked + counted for n_nodes
    val ranked = e
      .join(deg.select(col("p").as("pa"), col("d").as("_da")), Seq("pa"))
      .join(deg.select(col("p").as("pb"), col("d").as("_db")), Seq("pb"))
    val aFirst = col("_da") < col("_db") ||
      (col("_da") === col("_db") && col("pa") < col("pb"))
    val oriented = ranked
      .select(when(aFirst, col("pa")).otherwise(col("pb")).as("ku"),
        when(aFirst, col("pb")).otherwise(col("pa")).as("kv"),
        when(aFirst, col("_db")).otherwise(col("_da")).as("dv"))
      .localCheckpoint() // wedge self-join (both sides) + closing join
    val spokeOrder = col("e1.dv") < col("e2.dv") ||
      (col("e1.dv") === col("e2.dv") && col("e1.kv") < col("e2.kv"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.ku") === col("e2.ku") && spokeOrder)
      .select(col("e1.kv").as("k1"), col("e2.kv").as("k2"))
    val closed = wedges
      .join(oriented.as("c"),
        col("k1") === col("c.ku") && col("k2") === col("c.kv"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("c.ku")).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed)
  }
}
