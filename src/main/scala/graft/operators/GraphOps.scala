package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.Engine.MaterializeSyntax

/** Graph analytics over data-derived graphs — the iterative-algorithm
  * surface of the engine (the near-dup connected components in LlmOps
  * is the third member of this family).
  *
  * The demo graph is the co-purchase graph: parts are nodes, and two
  * parts are linked when they appear in at least [[CoPurchaseMinOrders]]
  * common orders. It is built from `lineitem` alone, is deterministic,
  * and keeps non-trivial structure at every fixture scale (hundreds to
  * thousands of nodes/edges, triangles present).
  *
  * Determinism discipline for the oracle: PageRank runs entirely in
  * FIXED-POINT integer arithmetic (scaled longs, truncating division) —
  * integer sums are order-independent, so the result is bit-identical
  * across engines, partitionings, and cluster sizes. A floating-point
  * PageRank can never be hash-compared (per-partition sum order drifts).
  */
object GraphOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  /** Two parts are co-purchased when they share at least this many
    * orders (calibrated so the fixture graph is sparse but connected:
    * ~2.3k edges at sf0.001, ~3.4k at sf0.01).
    */
  val CoPurchaseMinOrders = 2L

  /** PageRank fixed-point scale (1e12: rank mass per node stays ≥ 1e8
    * at a million nodes, so truncating division keeps ~8 significant
    * digits; 85 × total mass ≈ 8.5e13 is far from long overflow).
    */
  val PrScale = 1000000000000L

  /** PageRank iterations (build-quality knob, not a correctness one —
    * the fixed-point arithmetic keeps every iteration oracle-matched).
    */
  val PageRankIters = 3

  /** Per-order sorted distinct-part baskets (collect_set dedups
    * map-side) — a LAZY lineitem subtree, never held in storage: the
    * edge build and q116's supports each plan it inline. A basket table
    * kept for the session is corpus-sized, and holding it in storage
    * memory changes eviction for every later query of the session.
    */
  private def orderBaskets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** The graph family's one stored table, materialized once per
    * (session, dir): q93's iterations, q94's wedge joins, q116's rules
    * and q117's rounds plan against it instead of replaying the pair
    * expansion per reference.
    */
  private val edgeCache =
    new graft.SessionCache

  /** Canonical co-purchase edge list (pa < pb, n_orders ≥ cut) WITH the
    * co-order count — q93/q94/q117 project the structure, q116's
    * association rules consume the counts.
    *
    * One fused lineitem → basket → pair-count pipeline, in basket form
    * rather than a self-join: the ordered pairs explode map-side from
    * the sorted basket, so each basket ships once (a self-join on
    * l_orderkey would shuffle the scan twice and materialize the join).
    * The quadratic pair fan-out is per BASKET (an order has O(10)
    * items), never per corpus. The pair-counting groupBy is map-side
    * combinable; only (pa, pb, partial count) triples shuffle. A skewed
    * "mega-basket" would be the one hazard at 100 TB; AQE skew-join
    * handles the downstream joins and the expansion itself can be
    * capped per order upstream if a source ever produces unbounded
    * baskets. Only the thresholded edge list (~n_edges ≪ the pair
    * expansion: 3.6k rows at sf0.1) is materialized.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(s, dir)(
      orderBaskets(s, dir)
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> named_struct('pa', x, 'pb', y))))"))
          .as("e"))
        .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= CoPurchaseMinOrders)
        .materialize(true))

  /** The one edge-cleaning step of the graph kernels (pageRank,
    * triangleStats, bfsHops and LlmOps.connectedComponents): keep the
    * two endpoint columns as named and drop null endpoints and
    * self-loops. A (x, x) edge would feed rank back to its own node,
    * close phantom wedges or give a singleton a component row, and a
    * null would form a phantom node.
    */
  private[operators] def cleanEdges(e: DataFrame): DataFrame = {
    val Array(a, b) = e.columns.map(col)
    e.filter(a.isNotNull && b.isNotNull && a =!= b)
  }

  /** Both directions of a cleaned undirected edge list as (src, dst):
    * the adjacency pageRank and bfsHops walk.
    */
  private def bothDirections(e0: DataFrame): DataFrame = {
    val e = cleanEdges(e0.toDF("pa", "pb"))
    e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
  }

  /** q93: PageRank over the co-purchase graph — [[PageRankIters]]
    * damped iterations (d = 0.85) in fixed-point longs.
    *
    * Per iteration: ONE shuffle (the contribution sum, map-side
    * combinable) plus a co-partitioned join back to the node table —
    * the edge list and the rank table hash-partition on the same key,
    * so AQE reuses the layout across iterations. The symmetrized graph
    * has no dangling nodes (every node has out-degree ≥ 1), so no
    * dangling-mass redistribution step is needed. Teleport and damping
    * are integer expressions: r' = (0.15·S)/n + (85·Σ r_u div deg_u)
    * div 100, all truncating long division — identical on both engines.
    *
    * Input: canonical undirected edge list (columns (pa, pb), pa < pb)
    * → (node, deg, rank_fp).
    */
  def pageRank(e0: DataFrame, iters: Int = PageRankIters): DataFrame = {
    val edges = bothDirections(e0)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nRow = deg.agg(count(lit(1)).as("n"))
    // node table: degree + per-corpus constants (teleport term, r0);
    // n arrives as a broadcast 1-row aggregate — one job, no collect.
    // Materialized once (node-table-sized): every iteration references
    // it twice, and a deep uncached lineage would replay the degree
    // aggregation 2×iters times and nest the codegen correspondingly.
    val base = deg.select(col("src").as("node"), col("deg"))
      .crossJoin(broadcast(nRow))
      .withColumn("tele", expr(s"(($PrScale * 15) div 100) div n"))
      .withColumn("r", expr(s"$PrScale div n"))
      .select(col("node"), col("deg"), col("tele"), col("r"))
      .materialize(true)
    // each round materializes its (node-table-sized) rank table so the
    // next round plans two flat-table joins instead of a lineage that
    // re-runs every earlier round's shuffles and recompiles their
    // codegen (the q62 connected-components lesson: per-round fixed
    // cost dominates small graphs — keep rounds flat and shallow)
    val ranks = (1 to iters).foldLeft(base) { (r, _) =>
      r.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), expr("r div deg").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("cin"))
        .join(base.select(col("node"), col("deg"), col("tele")), Seq("node"))
        .withColumn("r", expr("tele + (85 * cin) div 100"))
        .select(col("node"), col("deg"), col("tele"), col("r"))
        .materialize(true)
    }
    ranks.select(col("node"), col("deg"), col("r").as("rank_fp"))
  }

  val q93PageRank: Q = (s, dir) => {
    pageRank(coPurchaseEdges(s, dir).select(col("pa"), col("pb")))
      .select(col("node").as("part_id"), col("deg"), col("rank_fp"))
      .orderBy(col("rank_fp").desc, col("part_id").asc)
  }

  /** q94: per-node triangle count + clustering coefficient over the
    * co-purchase graph — the basket-coherence / community-structure
    * diagnostic.
    *
    * Scale shape (Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer"): edges are ORIENTED from the
    * lower-(degree, id) endpoint to the higher, so every wedge is
    * enumerated at its lowest-degree vertex — the wedge fan-out is
    * bounded by graph arboricity instead of max degree, which is what
    * kills the naive formulation on power-law graphs (a celebrity node
    * with degree 1e6 would otherwise enumerate 1e12 wedges in one
    * task). Both joins are equi-joins; nothing is ever all-pairs.
    *
    * Input: canonical undirected edge list (columns (pa, pb), pa < pb)
    * → (node, deg, n_triangles, clustering).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // edge-list-sized; referenced three times below (degrees, wedge
    // sides via `oriented`, and the closing join) — materialize once
    val e0 = cleanEdges(edges.toDF("pa", "pb")).materialize(true)
    val deg = e0.select(col("pa").as("node"))
      .unionAll(e0.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each canonical edge low→high by (degree, id)
    val withDeg = e0
      .join(deg.select(col("node").as("pa"), col("deg").as("dega")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("degb")), Seq("pb"))
    val oriented = withDeg.select(
      when(col("dega") < col("degb") ||
        (col("dega") === col("degb") && col("pa") < col("pb")),
        struct(col("pa").as("lo"), col("pb").as("hi")))
        .otherwise(struct(col("pb").as("lo"), col("pa").as("hi")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
    // wedges at the low vertex; id-ordered so each wedge appears once
    val l = oriented.select(col("lo").as("u"), col("hi").as("v"))
    val r = oriented.select(col("lo").as("u2"), col("hi").as("w"))
    val wedges = l.join(r, col("u") === col("u2") && col("v") < col("w"))
      .select(col("u"), col("v"), col("w"))
    // close the wedge against the canonical edge list (either direction)
    val tri = wedges.join(e0,
      least(col("v"), col("w")) === col("pa") &&
        greatest(col("v"), col("w")) === col("pb"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2, round(
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  val q94Triangles: Q = (s, dir) => {
    triangleStats(coPurchaseEdges(s, dir).select(col("pa"), col("pb")))
      .select(col("node").as("part_id"), col("deg"), col("n_triangles"),
        col("clustering"))
      .orderBy(col("part_id"))
  }

  /** Seed predicate for q117: node id below this is a BFS source. */
  val BfsSeedBelow = 50L

  /** BFS round cap — a correctness backstop far above any co-purchase
    * graph diameter, mirrored into the oracle's recursion bound.
    */
  val BfsMaxHops = 16

  /** Multi-source BFS hop counts over a canonical undirected edge list:
    * (node, hops) with hops = shortest hop distance to ANY seed.
    *
    * Frontier-based over ONE flat settled table: round k expands only
    * the nodes settled at hops k − 1 (one equi-join, one distinct and
    * one left-anti against the settled table), appends what it finds
    * at hops k, and checkpoints the result — one materialization per
    * round, whose row count (observed on the way) ends the loop the
    * first round that discovers nothing: O(diameter) rounds, per-round
    * joins proportional to the FRONTIER. Each round plans over one
    * checkpointed leaf (the q62 lesson: keep iterative lineage flat),
    * and so does the returned table. Hop counts are integers, so the
    * result is deterministic under any partitioning.
    */
  def bfsHops(e0: DataFrame, seeds: DataFrame, maxRounds: Int = BfsMaxHops): DataFrame = {
    val edges = bothDirections(e0).materialize(true)
    var dist = seeds.toDF("node").distinct()
      .select(col("node"), lit(0L).as("hops"))
      .materialize(true)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val next = dist.filter(col("hops") === round - 1)
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti")
      val found = Observation()
      dist = dist.unionAll(next.select(col("node"), lit(round.toLong).as("hops"))
          .observe(found, count(lit(1)).as("n")))
        .materialize(true)
      done = found.get("n").asInstanceOf[Long] == 0L
    }
    dist
  }

  /** q117: product blast radius — hop distance from the seed set
    * (part_id < [[BfsSeedBelow]], e.g. a recall list) to every product
    * reachable through shared baskets; unreachable parts report -1.
    * The traversal member of the graph family next to components (q62)
    * and PageRank (q93).
    */
  val q117BfsHops: Q = (s, dir) => {
    val e0 = coPurchaseEdges(s, dir).select(col("pa"), col("pb"))
    val nodes = e0.select(col("pa").as("node"))
      .unionAll(e0.select(col("pb").as("node"))).distinct()
    val seeds = nodes.filter(col("node") < BfsSeedBelow)
    val dist = bfsHops(e0, seeds)
    nodes.join(dist, Seq("node"), "left")
      .select(col("node").as("part_id"),
        coalesce(col("hops"), lit(-1L)).as("hops"))
      .orderBy(col("part_id"))
  }

  /** Rules reported by q116. */
  val AssocTopK = 25

  /** q116: association rules over co-purchase pairs — support,
    * directional confidence, and lift for the part pairs that share
    * baskets (the frequent-itemset / market-basket staple, k = 2).
    * Reuses the stored co-purchase counts. The per-part supports are
    * one parts-sized checkpoint over the lazy basket subtree (one
    * map-side-combinable count of the exploded baskets; collect_set
    * already dedups each order's parts), and the basket total is
    * observed on the same pass — one lineitem scan, nothing
    * corpus-sized kept. Ranking on rounded lift with (pa, pb)
    * tiebreaks keeps the top-k engine-stable.
    */
  val q116AssocRules: Q = (s, dir) => {
    val baskets = Observation()
    val psup = orderBaskets(s, dir)
      .observe(baskets, count(lit(1)).as("n"))
      .select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("c_part"))
      .materialize(true)
    val nt = lit(baskets.get("n").asInstanceOf[Long])
    coPurchaseEdges(s, dir)
      .withColumnRenamed("n_orders", "c_ab")
      .join(psup.select(col("part").as("pa"), col("c_part").as("c_a")), Seq("pa"))
      .join(psup.select(col("part").as("pb"), col("c_part").as("c_b")), Seq("pb"))
      .select(col("pa"), col("pb"), col("c_ab"), col("c_a"), col("c_b"),
        round(col("c_ab").cast("double") / nt, 6).as("support"),
        round(col("c_ab").cast("double") / col("c_a"), 6).as("conf_a_b"),
        round(col("c_ab").cast("double") / col("c_b"), 6).as("conf_b_a"),
        round(nt * col("c_ab").cast("double") /
          (col("c_a") * col("c_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("pa").asc, col("pb").asc)
      .limit(AssocTopK)
  }

  val queries: Map[String, Q] = Map(
    "q93_pagerank" -> q93PageRank,
    "q94_triangles" -> q94Triangles,
    "q116_assoc_rules" -> q116AssocRules,
    "q117_bfs_hops" -> q117BfsHops)

  // ---- DuckDB oracle dialect ----

  /** Shared CTE chain: distinct (order, part) → canonical co-purchase
    * edges (mirrors [[coPurchaseEdges]] verbatim).
    */
  private val edgeCtesD =
    s"""lp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |e0 AS (
       |  SELECT a.part AS pa, b.part AS pb, count(*) AS c_ab
       |  FROM lp a JOIN lp b ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY 1, 2 HAVING count(*) >= $CoPurchaseMinOrders)""".stripMargin

  /** One unrolled fixed-point PageRank iteration (same integer formula
    * as the Spark side; `//` is DuckDB's truncating division for the
    * positive operands used here, matching Spark's `div`). The sum is
    * cast to BIGINT: DuckDB's integer `sum` returns HUGEINT, which
    * survives `//` and round-trips through parquet as DOUBLE — the
    * engine emits BIGINT, so an uncast oracle hash-mismatches on a
    * value-identical result (CORRECTNESS r5/r6 q93).
    */
  private def prIterD(prev: String, curr: String): String =
    s"""$curr AS (
       |  SELECT d.node, d.deg, d.tele,
       |    d.tele + (85 * CAST(sum(r.r // r.deg) AS BIGINT)) // 100 AS r
       |  FROM $prev r JOIN edges e ON r.node = e.src
       |  JOIN $prev d ON d.node = e.dst
       |  GROUP BY d.node, d.deg, d.tele)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q93_pagerank" ->
      // the iteration chain is GENERATED from PageRankIters so tuning
      // the knob can never silently desynchronize query and oracle
      s"""WITH $edgeCtesD,
        |edges AS (SELECT pa AS src, pb AS dst FROM e0
        |          UNION ALL SELECT pb, pa FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |n AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT src AS node, deg,
        |         (($PrScale * 15) // 100) // n.n AS tele,
        |         $PrScale // n.n AS r
        |       FROM deg, n),
        |${(1 to PageRankIters).map(i => prIterD(s"r${i - 1}", s"r$i")).mkString(",\n")}
        |SELECT node AS part_id, deg, r AS rank_fp FROM r$PageRankIters
        |ORDER BY rank_fp DESC, part_id ASC""".stripMargin,
    "q94_triangles" ->
      s"""WITH $edgeCtesD,
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0)
        |        GROUP BY node),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e0 e1 JOIN e0 e2 ON e2.pa = e1.pb
        |  JOIN e0 e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |pn AS (SELECT node, count(*) AS n_triangles FROM (
        |         SELECT unnest([a, b, c]) AS node FROM tri)
        |       GROUP BY node)
        |SELECT deg.node AS part_id, deg.deg,
        |  coalesce(pn.n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.deg >= 2 THEN round(
        |    2.0 * coalesce(pn.n_triangles, 0) / (deg.deg * (deg.deg - 1)), 6)
        |  ELSE 0.0 END AS clustering
        |FROM deg LEFT JOIN pn USING (node)
        |ORDER BY part_id""".stripMargin,
    "q116_assoc_rules" ->
      s"""WITH $edgeCtesD,
        |n AS (SELECT count(DISTINCT okey) AS nt FROM lp),
        |psup AS (SELECT part, count(*) AS c_part FROM lp GROUP BY part)
        |SELECT e0.pa, e0.pb, CAST(e0.c_ab AS BIGINT) AS c_ab,
        |  CAST(a.c_part AS BIGINT) AS c_a, CAST(b.c_part AS BIGINT) AS c_b,
        |  round(CAST(e0.c_ab AS DOUBLE) / n.nt, 6) AS support,
        |  round(CAST(e0.c_ab AS DOUBLE) / a.c_part, 6) AS conf_a_b,
        |  round(CAST(e0.c_ab AS DOUBLE) / b.c_part, 6) AS conf_b_a,
        |  round(n.nt * CAST(e0.c_ab AS DOUBLE) / (a.c_part * b.c_part), 6) AS lift
        |FROM e0
        |JOIN psup a ON e0.pa = a.part
        |JOIN psup b ON e0.pb = b.part, n
        |ORDER BY lift DESC, pa ASC, pb ASC LIMIT $AssocTopK""".stripMargin,
    "q117_bfs_hops" ->
      s"""WITH RECURSIVE $edgeCtesD,
        |edges AS (SELECT pa AS src, pb AS dst FROM e0
        |          UNION ALL SELECT pb, pa FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |walk(node, hops) AS (
        |  SELECT node, 0 FROM nodes WHERE node < $BfsSeedBelow
        |  UNION
        |  SELECT e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hops < $BfsMaxHops),
        |dist AS (SELECT node, min(hops) AS hops FROM walk GROUP BY node)
        |SELECT n.node AS part_id, CAST(coalesce(d.hops, -1) AS BIGINT) AS hops
        |FROM nodes n LEFT JOIN dist d USING (node)
        |ORDER BY part_id""".stripMargin)
}
