package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Pins the q137 incremental-PageRank contract: the delta path equals
  * a full recompute EXACTLY (fixed-point integers, no tolerance) on
  * every delta class, and recomputes exactly the touched components.
  */
class IncrementalPageRankSpec extends GraftSparkSpec {
  import spark.implicits._
  import LinkGraphSpec._

  // 30 components of 5 nodes: ids 5g..5g+4, edges 5g->5g+1->...->5g+4->5g
  private def ringNodes: DataFrame =
    (0L until 150L).map(Tuple1(_)).toDF("id")
  private def ringEdges: DataFrame =
    (0L until 150L).map(i =>
      (i, if (i % 5 == 4) i - 4 else i + 1)).toDF("src", "dst")

  private def ranksOf(df: DataFrame): Map[Long, Long] =
    df.select("id", "rank").as[(Long, Long)].collect().toMap

  private def check(
      newNodes: DataFrame, newEdges: DataFrame,
      oldNodes: DataFrame, oldEdges: DataFrame,
      expectTouched: Set[Long]): Unit = {
    val prev = LinkGraph.pageRank(oldNodes, "id", oldEdges, iters = 4)
    val full = ranksOf(LinkGraph.pageRank(newNodes, "id", newEdges, iters = 4))
    val delta = LinkGraph.pageRankDelta(
      newNodes, "id", newEdges, oldNodes, oldEdges, prev, iters = 4)
      .as[(Long, Long, Boolean)].collect()
    assert(delta.map(r => r._1 -> r._2).toMap === full, "rank equality")
    val recomputed = delta.filter(_._3).map(_._1).toSet
    assert(recomputed === expectTouched, "touched set")
  }

  test("added edge recomputes only its component") {
    val newE = ringEdges.unionByName(Seq((7L, 9L)).toDF("src", "dst"))
    check(ringNodes, newE, ringNodes, ringEdges, (5L to 9L).toSet)
  }

  test("removed edge recomputes only its component (even if it splits)") {
    val newE = ringEdges.filter(!(col("src") === 12L && col("dst") === 13L))
    check(ringNodes, newE, ringNodes, ringEdges, (10L to 14L).toSet)
  }

  test("parallel-edge multiplicity change dirties its endpoints") {
    val newE = ringEdges.unionByName(Seq((21L, 22L)).toDF("src", "dst"))
    check(ringNodes, newE, ringNodes, ringEdges, (20L to 24L).toSet)
  }

  test("added node linking two components merges their recompute") {
    val newN = ringNodes.unionByName(Seq(Tuple1(900L)).toDF("id"))
    val newE = ringEdges.unionByName(
      Seq((900L, 30L), (44L, 900L)).toDF("src", "dst"))
    check(newN, newE, ringNodes, ringEdges,
      (30L to 34L).toSet ++ (40L to 44L).toSet + 900L)
  }

  test("removed isolated-able node recomputes its old neighbors' component") {
    val oldN = ringNodes.unionByName(Seq(Tuple1(901L)).toDF("id"))
    val oldE = ringEdges.unionByName(Seq((901L, 50L)).toDF("src", "dst"))
    check(ringNodes, ringEdges, oldN, oldE, (50L to 54L).toSet)
  }

  test("empty delta carries every rank forward, nothing recomputes") {
    val prev = LinkGraph.pageRank(ringNodes, "id", ringEdges, iters = 4)
    val delta = LinkGraph.pageRankDelta(
      ringNodes, "id", ringEdges, ringNodes, ringEdges, prev, iters = 4)
      .as[(Long, Long, Boolean)].collect()
    assert(delta.forall(!_._3))
    assert(delta.map(r => r._1 -> r._2).toMap === ranksOf(prev))
  }

  test("driver-local closure equals the distributed closure exactly") {
    // round-17: the bounded-graph local BFS captures every fixture
    // here, so force the distributed closure (and distributed rank
    // loop) with localEdgeLimit=0 and pin exact (id, rank, recomputed)
    // equality against the local path — the GraphAnn coverage
    // discipline from the round-16 ADVICE
    val newE = ringEdges.unionByName(Seq((7L, 9L), (100L, 104L)).toDF("src", "dst"))
    val prev = LinkGraph.pageRank(ringNodes, "id", ringEdges, iters = 4)
    def run() = LinkGraph.pageRankDelta(
      ringNodes, "id", newE, ringNodes, ringEdges, prev, iters = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val local = run()
    spark.conf.set("spark.graft.graph.localEdgeLimit", "0")
    try assert(run() === local, "distributed closure must equal local")
    finally spark.conf.unset("spark.graft.graph.localEdgeLimit")
    // the closure and rank loops release every superseded round and pin,
    // within the jobs the hand-written loops ran on this fixture
    val (rows, jobs, leaked) = distributed(spark)(loopFootprint(LinkGraph.pageRankDelta(
      ringNodes, "id", newE, ringNodes, ringEdges, prev, iters = 4)))
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1) === local)
    assert(leaked.isEmpty, s"left persisted: $leaked")
    assert(jobs <= 74, s"jobs: $jobs")
  }

  test("partitioning invariance of the delta path") {
    val newE = ringEdges.unionByName(Seq((7L, 9L), (100L, 104L)).toDF("src", "dst"))
    val prev = LinkGraph.pageRank(ringNodes, "id", ringEdges, iters = 4)
    def run(p: Int) = LinkGraph.pageRankDelta(
      ringNodes.repartition(p), "id", newE.repartition(p),
      ringNodes, ringEdges, prev, iters = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(run(2) === run(13))
  }

  test("string and fractional ids: delta path stays distributed and exact") {
    // two 3-rings; the new snapshot adds one edge inside ring A. As
    // longs "007" would merge with "7" (and "x" would not cast), 1.5
    // with 1.0; the integral control pins that the route check sees
    // the local route when it is taken.
    val ring = Seq((0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3))
    def run(ids: Seq[Any], nodes0: DataFrame,
        edgesOf: Seq[(Int, Int)] => DataFrame): Unit = {
      val nodes = nodes0.localCheckpoint()
      val oldE = edgesOf(ring).localCheckpoint()
      val newE = edgesOf(ring :+ ((2, 1))).localCheckpoint()
      val prev = LinkGraph.pageRank(nodes, "id", oldE, iters = 4).localCheckpoint()
      def delta() = LinkGraph.pageRankDelta(nodes, "id", newE, nodes, oldE, prev, iters = 4)
      val got = delta()
      val integral = ids.head.isInstanceOf[Long]
      assert(localRoute(got) === integral, s"$ids: local route iff integral ids")
      val rows = got.collect().map(r => (r.get(0), r.getLong(1), r.getBoolean(2)))
      val full = LinkGraph.pageRank(nodes, "id", newE, iters = 4).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      assert(rows.map(r => r._1 -> r._2).toMap === full, s"$ids: rank equality")
      assert(rows.length === ids.length, s"$ids: one row per node")
      assert(rows.filter(_._3).map(_._1).toSet === ids.take(3).toSet, s"$ids: touched set")
      assert(sortedRows(got) === distributed(spark)(sortedRows(delta())), s"$ids")
    }
    val sIds = Seq("7", "007", "x", "a", "b", "c")
    run(sIds, sIds.toDF("id"),
      _.map { case (a, b) => (sIds(a), sIds(b)) }.toDF("src", "dst"))
    val dIds = Seq(1.0, 1.5, 2.0, 3.0, 3.5, 4.0)
    run(dIds, dIds.toDF("id"),
      _.map { case (a, b) => (dIds(a), dIds(b)) }.toDF("src", "dst"))
    val lIds = Seq(7L, 8L, 9L, 10L, 11L, 12L)
    run(lIds, lIds.toDF("id"),
      _.map { case (a, b) => (lIds(a), lIds(b)) }.toDF("src", "dst"))
  }
}
