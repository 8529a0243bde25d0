package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.GraftSparkSpec

/** Route helpers shared by the graph fast-path specs. */
object LinkGraphSpec {
  /** Runs `f` with the shared row cap of [[Widen.collectSmall]] at 0,
    * so every graph fast path takes its distributed route.
    */
  def distributed[T](spark: SparkSession)(f: => T): T = {
    spark.conf.set("spark.graft.graph.localEdgeLimit", "0")
    try f finally spark.conf.unset("spark.graft.graph.localEdgeLimit")
  }

  /** True iff `df` came from a driver-local route: those build their
    * output from a driver-side Seq (a LocalRelation), while the
    * distributed routes end in checkpointed frames. Meaningful only
    * when the inputs are checkpointed too.
    */
  def localRoute(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case _: LocalRelation => () }.isDefined

  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
}

/** PageRank fixed-point power iteration: exact equality against an
  * independent driver-side BigInt recompute (no tolerance — the
  * operator's whole claim is bit-reproducible integer arithmetic),
  * hand-checked tiny graph, partitioning invariance, damped-mass
  * bound, and the overflow-safe split-division identity at extreme
  * rank magnitudes.
  */
class LinkGraphSpec extends GraftSparkSpec {
  import spark.implicits._
  import LinkGraphSpec._

  /** Independent reference: adjacency loops over BigInt — shares no
    * arithmetic shape with the operator's DIV/MOD split form. `seeds`
    * None = uniform teleport; Some = personalized (mass on seeds only).
    */
  private def reference(
      ids: Seq[Long], edges: Seq[(Long, Long)], iters: Int,
      dampNum: Long = 85, dampDen: Long = 100,
      seeds: Option[Set[Long]] = None): Map[Long, Long] = {
    val baseAll = BigInt(LinkGraph.Scale) * (dampDen - dampNum) / dampDen
    def isSeed(id: Long) = seeds.forall(_.contains(id))
    def base(id: Long) = if (isSeed(id)) baseAll else BigInt(0)
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = ids.map(id =>
      id -> (if (isSeed(id)) BigInt(LinkGraph.Scale) else BigInt(0))).toMap
    for (_ <- 1 to iters) {
      val contrib = collection.mutable.Map.empty[Long, BigInt]
      edges.foreach { case (s, d) =>
        val c = r(s) * dampNum / (BigInt(dampDen) * deg(s))
        contrib(d) = contrib.getOrElse(d, BigInt(0)) + c
      }
      r = ids.map(id => id -> (base(id) + contrib.getOrElse(id, BigInt(0)))).toMap
    }
    r.map { case (k, v) => k -> v.toLong }
  }

  private def run(
      ids: Seq[Long], edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] = {
    val nodes = ids.toDF("id").repartition(parts)
    val e = edges.toDF("src", "dst").repartition(parts)
    LinkGraph.pageRank(nodes, "id", e, iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("hand-checked 3-node cycle with a hub") {
    // 0->1, 1->2, 2->0, and 2->0 duplicated (parallel edge)
    val ids = Seq(0L, 1L, 2L)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 0L))
    // iteration 1 by hand (Scale=2^20=1048576, base=157286):
    //   contrib(0->1) = 1048576*85/100        = 891289 (deg 1)
    //   contrib(1->2) = 891289 same           = 891289
    //   contrib(2->0) per edge = 1048576*85/(100*2) = 445644, twice
    val got1 = run(ids, edges, iters = 1)
    assert(got1(0L) == 157286L + 2 * 445644L)
    assert(got1(1L) == 157286L + 891289L)
    assert(got1(2L) == 157286L + 891289L)
    assert(got1 == reference(ids, edges, 1))
  }

  test("matches the independent BigInt reference on a dense modular graph") {
    val n = 97L
    val ids = (0L until n)
    val edges = ids.flatMap { i =>
      Seq((i, (i * 7 + 1) % n), (i, (i * 13 + 2) % n)) ++
        (if (i % 10 == 0) Seq((i, 0L)) else Nil)
    }
    val want = reference(ids, edges, 5)
    assert(run(ids, edges, 5) == want)
  }

  test("partitioning-invariant") {
    val n = 53L
    val ids = (0L until n)
    val edges = ids.map(i => (i, (i * 31 + 3) % n))
    val a = run(ids, edges, 4, parts = 1)
    val b = run(ids, edges, 4, parts = 7)
    assert(a == b)
  }

  test("mass never exceeds the undamped total; sinks leak it") {
    val ids = Seq(0L, 1L, 2L, 3L)
    // 3 is a sink's TARGET only; 0,1,2 chain into it — dangling node 3
    // has no out-edges, so its damped mass leaves the system
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val got = run(ids, edges, 10)
    val total = got.values.sum
    assert(total <= 4L * LinkGraph.Scale)
    assert(got == reference(ids, edges, 10))
  }

  test("split division form stays exact at hub-concentrated magnitudes") {
    // one hub receiving from many: rank magnitudes grow toward the
    // regime where naive r*85 is the thing that would overflow first;
    // equality with the BigInt reference (which computes r*85/b
    // directly) proves the split identity, not just absence of crash
    val n = 40L
    val ids = (0L until n)
    val edges = ids.filter(_ > 0).map(i => (i, 0L)) ++ Seq((0L, 1L))
    val got = run(ids, edges, 8)
    assert(got == reference(ids, edges, 8))
  }

  test("randomized graphs match the BigInt reference across seeds") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    for (seed <- 1 to 4) {
      val n = 30L + seed * 7
      val ids = 0L until n
      // 2n random edges incl. self-loops and parallel duplicates
      val edges = lcg(seed * 2654435761L).take(2 * n.toInt)
        .grouped(2).map { case Seq(a, b) =>
          (((a >>> 33) % n + n) % n, ((b >>> 33) % n + n) % n)
        }.toSeq
      // nodes with no out-edges are dangling — covered by construction
      val want = reference(ids, edges, 4)
      assert(run(ids, edges, 4) == want, s"seed $seed diverged")
    }
  }

  test("personalized: mass flows from seeds; unreachable nodes stay at zero") {
    // chain 0 -> 1 -> 2, isolated node 3, seed = {0}
    val ids = Seq(0L, 1L, 2L, 3L)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val seeds = Seq(0L)
    val got = LinkGraph.personalizedPageRank(
        ids.toDF("id").repartition(3), "id",
        edges.toDF("src", "dst"), seeds.toDF("id"), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference(ids, edges, 6, seeds = Some(seeds.toSet)))
    assert(got(3L) == 0L)                  // unreachable, no teleport
    assert(got(0L) > got(1L) && got(1L) > got(2L)) // distance discount
  }

  test("personalized with ALL nodes as seeds equals plain pageRank") {
    val ids = (0L until 40L)
    val edges = ids.map(i => (i, (i * 11 + 3) % 40))
    val plain = run(ids, edges, 4)
    val allSeeds = LinkGraph.personalizedPageRank(
        ids.toDF("id"), "id", edges.toDF("src", "dst"),
        ids.toDF("id"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(allSeeds == plain)
  }

  test("triangleCounts: hand graph, direction/dup/self-loop immunity, brute duel") {
    // K4 minus one edge on {0,1,2,3}: triangles {0,1,2} and {0,1,3}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L), (3L, 0L),
      // noise: reversed dups, self-loop, repeated edge
      (1L, 0L), (2L, 2L), (0L, 1L))
    val got = LinkGraph.triangleCounts(edges.toDF("src", "dst").repartition(3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L))

    // brute duel on a random multigraph
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    val n = 40L
    val rnd = lcg(99).take(300).grouped(2).map { case Seq(a, b) =>
      (((a >>> 33) % n + n) % n, ((b >>> 33) % n + n) % n)
    }.toSeq
    val und = rnd.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.toSet
    val ids = und.flatMap { case (a, b) => Seq(a, b) }.toSeq
    val brute = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(x, y, z) <- ids.sorted.combinations(3)
      if und((x, y)) && und((y, z)) && und((x, z))
      v <- Seq(x, y, z)
    } brute(v) += 1L
    val got2 = LinkGraph.triangleCounts(rnd.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == brute.toMap)
  }

  test("clusteringCoeff: complete triangle = 10000, open path = 0, half-closed hub") {
    // triangle {0,1,2}; path node 3 attached to 0 and 4 (0-3, 3-4)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L))
    val got = LinkGraph.clusteringCoeff(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 10000L)))   // closed pair
    assert(got(2L) == ((2L, 1L, 10000L)))
    assert(got(0L) == ((3L, 1L, 3333L)))    // 2*1/(3*2) = 1/3 floor'd
    assert(got(3L) == ((2L, 0L, 0L)))       // open wedge
    assert(got(4L) == ((1L, 0L, 0L)))       // degree < 2
  }

  test("iters=0 returns the uniform init; bad args fail fast") {
    val got = run(Seq(1L, 2L), Seq((1L, 2L)), 0)
    assert(got == Map(1L -> LinkGraph.Scale, 2L -> LinkGraph.Scale))
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq(1L).toDF("id"), "id",
        Seq((1L, 1L)).toDF("src", "dst"), iters = -1)
    }
  }

  test("row cap 0 forces every LinkGraph fast path distributed, same output") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L), (3L, 0L), (3L, 4L),
      (4L, 4L), (4L, 2L)).toDF("src", "dst").localCheckpoint()
    val nodes = (0L to 4L).toDF("id").localCheckpoint()
    val seeds = Seq(0L).toDF("id").localCheckpoint()
    val routed = Seq[(String, () => DataFrame)](
      "triangleCounts" -> (() => LinkGraph.triangleCounts(edges)),
      "pageRank" -> (() => LinkGraph.pageRank(nodes, "id", edges, iters = 4)),
      "personalizedPageRank" -> (() =>
        LinkGraph.personalizedPageRank(nodes, "id", edges, seeds, iters = 4)))
    // the rank loops release every superseded iteration and their pins,
    // within the jobs their hand-written loops ran on this fixture
    val jobBudget = Map("pageRank" -> 24, "personalizedPageRank" -> 26)
    for ((name, run) <- routed) {
      val local = run()
      assert(localRoute(local), s"$name: integral ids must take the local route")
      val dist = distributed(spark)(run())
      assert(!localRoute(dist), s"$name: row cap 0 must take the distributed route")
      assert(sortedRows(dist) === sortedRows(local), name)
      jobBudget.get(name).foreach { maxJobs =>
        val (rows, jobs, leaked) = distributed(spark)(loopFootprint(run()))
        assert(rows.map(_.toString).sorted === sortedRows(local), name)
        assert(leaked.isEmpty, s"$name: left persisted: $leaked")
        assert(jobs <= maxJobs, s"$name: jobs: $jobs")
      }
    }
    // clusteringCoeff checkpoints its output on both routes; its
    // triangle step is the routed part
    assert(sortedRows(distributed(spark)(LinkGraph.clusteringCoeff(edges))) ===
      sortedRows(LinkGraph.clusteringCoeff(edges)))
  }

  // "007" beside "7": a cast to long would merge them (and "x" would
  // not cast at all); 2.5 would fold into 2.0 and 1.5 into 1.0
  private def offLocalRoute(name: String)(f: => DataFrame): Seq[String] = {
    val df = f
    assert(!localRoute(df), s"$name: non-integral ids must not take the local route")
    val got = sortedRows(df)
    assert(got === distributed(spark)(sortedRows(f)), s"$name: equals the distributed output")
    got
  }

  /** pageRank over `ids` (edges by position) against the BigInt reference. */
  private def rankByPosition(ids: Seq[Any], nodes: DataFrame, edges: DataFrame): Unit = {
    val edgeIx = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L))
    val (n, e) = (nodes.localCheckpoint(), edges.localCheckpoint())
    offLocalRoute(s"pageRank $ids")(LinkGraph.pageRank(n, "id", e, iters = 4))
    val got = LinkGraph.pageRank(n, "id", e, iters = 4).collect()
      .map(r => ids.indexOf(r.get(0)).toLong -> r.getLong(1))
    assert(got.length === ids.length, s"$ids: one row per node")
    assert(got.toMap === reference(Seq(0L, 1L, 2L), edgeIx, 4), s"$ids")
  }
  private val ixEdges = Seq((0, 1), (1, 2), (2, 0), (0, 2))

  test("string ids stay off the local route and match the distributed output") {
    val edges = Seq(("7", "007"), ("007", "x"), ("x", "7"), ("x", "y"), ("y", "7"))
      .toDF("src", "dst").localCheckpoint()
    offLocalRoute("triangleCounts")(LinkGraph.triangleCounts(edges))
    assert(LinkGraph.triangleCounts(edges).as[(String, Long)].collect().toMap ===
      Map("7" -> 2L, "x" -> 2L, "007" -> 1L, "y" -> 1L))
    val ids = Seq("7", "007", "x")
    rankByPosition(ids, ids.toDF("id"),
      ixEdges.map { case (a, b) => (ids(a), ids(b)) }.toDF("src", "dst"))
  }

  test("fractional ids stay off the local route and match the distributed output") {
    val edges = Seq((1.0, 2.0), (2.0, 2.5), (2.5, 1.0), (2.0, 3.0), (3.0, 1.0))
      .toDF("src", "dst").localCheckpoint()
    offLocalRoute("triangleCounts")(LinkGraph.triangleCounts(edges))
    assert(LinkGraph.triangleCounts(edges).as[(Double, Long)].collect().toMap ===
      Map(1.0 -> 2L, 2.0 -> 2L, 2.5 -> 1L, 3.0 -> 1L))
    val ids = Seq(1.0, 1.5, 2.0)
    rankByPosition(ids, ids.toDF("id"),
      ixEdges.map { case (a, b) => (ids(a), ids(b)) }.toDF("src", "dst"))
  }
}
