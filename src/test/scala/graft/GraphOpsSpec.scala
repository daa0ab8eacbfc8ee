package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Direct tests for the graph-analytics operators behind q93/q94 —
  * synthetic graphs with hand-checkable structure, independent of the
  * co-purchase edge derivation (which the q93/q94 oracles cover).
  */
class GraphOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def pr(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.pageRank(edges.toDF("pa", "pb"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
  }

  private def tri(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    GraphOps.triangleStats(edges.toDF("pa", "pb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** Reference implementation of the SAME fixed-point recurrence
    * (plain Scala, single-threaded) — the operator must match it
    * exactly, which is the whole point of integer PageRank.
    */
  private def prRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = deg.size.toLong
    val tele = ((GraphOps.PrScale * 15) / 100) / n
    var r = deg.keys.map(k => k -> GraphOps.PrScale / n).toMap
    for (_ <- 1 to iters) {
      val cin = sym.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = r.keys.map(k => k -> (tele + (85 * cin(k)) / 100)).toMap
    }
    r
  }

  test("pageRank matches the single-threaded fixed-point reference") {
    // two components: a 4-cycle with a chord, and a 3-star
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L))
    assert(pr(edges) == prRef(edges, 3))
    assert(pr(edges, 5) == prRef(edges, 5))
  }

  test("pageRank ranks the hub of a star above its leaves") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val got = pr(star)
    assert(got(1L) > got(2L))
    assert(got(2L) == got(3L) && got(3L) == got(4L) && got(4L) == got(5L))
  }

  test("pageRank is deterministic under input permutation") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    assert(pr(edges) == pr(edges.reverse))
  }

  test("self-loops and null endpoints are ignored by both operators") {
    import spark.implicits._
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val noisy = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(1L), Some(3L)),
      (Some(2L), Some(2L)), (None, Some(5L)), (Some(6L), None))
    val prClean = pr(clean)
    val prNoisy = GraphOps.pageRank(noisy.toDF("pa", "pb"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(prNoisy == prClean)
    val triNoisy = GraphOps.triangleStats(noisy.toDF("pa", "pb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(triNoisy == tri(clean))
    def hops(edges: DataFrame): Map[Long, Long] =
      GraphOps.bfsHops(edges, Seq(1L).toDF("node"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops(noisy.toDF("pa", "pb")) == hops(clean.toDF("pa", "pb")))
    assert(hops(noisy.toDF("pa", "pb")) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("bfsHops: multi-source levels on a known graph, frontier terminates") {
    import spark.implicits._
    // two seeds (1, 10); chain 1-2-3-4, star 10-{11,12}, 4-11 bridge,
    // isolated component 20-21 (unreached — absent from dist)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (4L, 11L), (20L, 21L))
    val got = GraphOps.bfsHops(edges.toDF("pa", "pb"), Seq(1L, 10L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 10L -> 0L, 2L -> 1L, 11L -> 1L, 12L -> 1L,
      3L -> 2L, 4L -> 2L))
  }

  test("bfsHops takes the SHORTEST path when routes compete") {
    import spark.implicits._
    // 1-2-3-4-5 chain plus shortcut 1-5: node 5 is 1 hop, node 4 is 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
    val got = GraphOps.bfsHops(edges.toDF("pa", "pb"), Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("the graph family keeps no cached table and bfsHops returns one checkpointed leaf") {
    val dir = "/root/testdata/sf0.001"
    // every spec in the suite JVM shares this session's cache manager:
    // start from an empty one so only the four graph queries count
    spark.catalog.clearCache()
    Seq("q93_pagerank", "q94_triangles", "q116_assoc_rules", "q117_bfs_hops")
      .foreach(q => GraphOps.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save())
    assert(spark.sharedState.cacheManager.isEmpty,
      "a graph query left a table in the session's cache")
    val e = GraphOps.coPurchaseEdges(spark, dir).select(col("pa"), col("pb"))
    val dist = GraphOps.bfsHops(e,
      e.select(col("pa").as("node")).filter(col("node") < GraphOps.BfsSeedBelow))
    val plan = dist.queryExecution.analyzed
    assert(plan.collect { case u: Union => u }.isEmpty,
      s"bfsHops returned a union of frontiers:\n$plan")
    assert(plan.collectLeaves().map(_.getClass.getSimpleName) == Seq("LogicalRDD"),
      s"bfsHops did not return one checkpointed table:\n$plan")
    assert(dist.count() > 0L)
  }

  test("pageRank matches the reference on random graphs (property)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(25)
      // random canonical edges over n nodes, dense enough to connect most
      val edges = (for {
        a <- 0L until n
        b <- (a + 1) until n
        if rnd.nextDouble() < 0.25
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val got = pr(edges)
        val want = prRef(edges, 3)
        assert(got == want, s"trial $trial (n=$n, ${edges.size} edges)")
        // total mass stays ≈ PrScale: integer truncation only loses,
        // never creates, rank
        assert(got.values.sum <= GraphOps.PrScale)
      }
    }
  }

  test("triangleStats matches a brute-force reference on random graphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(15)
      val edges = (for {
        a <- 1L to n
        b <- (a + 1) to n
        if rnd.nextDouble() < 0.3
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val es = edges.toSet
        def connected(x: Long, y: Long) = es.contains((math.min(x, y), math.max(x, y)))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.map { u =>
          val nbrs = nodes.filter(v => v != u && connected(u, v))
          val t = (for {
            i <- nbrs.indices; j <- (i + 1) until nbrs.size
            if connected(nbrs(i), nbrs(j))
          } yield 1).size.toLong
          u -> (nbrs.size.toLong, t)
        }.toMap
        assert(tri(edges) == want, s"trial $trial (n=$n, ${edges.size} edges)")
      }
    }
  }

  test("triangleStats counts K4 and ignores a pendant edge") {
    // K4 (every node in 3 triangles, clustering 1.0) plus pendant 4-5
    val k4 = for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)
    val got = tri(k4 :+ (4L, 5L))
    assert(got(1L) == (3L, 3L) && got(2L) == (3L, 3L) && got(3L) == (3L, 3L))
    assert(got(4L) == (4L, 3L)) // degree 4 via the pendant, same 3 triangles
    assert(got(5L) == (1L, 0L))
  }

  test("triangleStats: triangle-free graphs count zero everywhere") {
    // 6-cycle: no triangles, all degrees 2
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 6L))
    val got = tri(cycle)
    assert(got.values.forall { case (d, t) => d == 2L && t == 0L })
  }

  test("triangleStats counts each triangle once under skewed degrees") {
    // hub 1 connected to 2..8; triangle edges only among (2,3),(3,4):
    // triangles (1,2,3), (1,3,4) — hub in 2, node 3 in 2, nodes 2/4 in 1
    val hub = (2L to 8L).map(1L -> _)
    val got = tri(hub ++ Seq((2L, 3L), (3L, 4L)))
    assert(got(1L) == (7L, 2L))
    assert(got(3L) == (3L, 2L))
    assert(got(2L) == (2L, 1L) && got(4L) == (2L, 1L))
    assert((5L to 8L).forall(n => got(n) == (1L, 0L)))
  }
}
