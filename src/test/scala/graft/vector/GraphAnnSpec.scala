package graft.vector

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Pins the q133/q134 graph-ANN contract: the bounded-hop beam walk
  * beats plain IVF at the SAME probe budget on a jittered-twin corpus
  * (the cross-cell-edge payoff), determinism under repartitioning, and
  * persisted-index search equal to a fresh build+search.
  */
class GraphAnnSpec extends GraftSparkSpec {
  import spark.implicits._

  private val dim = 32
  private val nVec = 400
  private val jitterC = 0.35

  // seeded corpus: unit-ish vectors + rotated twins (vec_id + 100000),
  // the SparkEntry.jitterTwinEmbeddings law (x + c * reverse(x))
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val base = (0L until nVec.toLong).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(_ / n).toSeq)
    }
    val twins = base.map { case (i, v) =>
      (i + 100000L, v.zip(v.reverse).map { case (a, b) => a + jitterC * b })
    }
    (base ++ twins).toDF("vec_id", "embedding").localCheckpoint()
  }
  private lazy val queries = corpus.filter(col("vec_id") < 40)

  private def recallAt1(res: org.apache.spark.sql.DataFrame): Double = {
    val hits = res.filter(col("rank") === 1)
      .filter(col("neighbor_id") === col("query_id") + 100000).count()
    hits.toDouble / 40.0
  }

  test("graph walk >= 0.9 recall and beats IVF at the same nprobe=1 budget") {
    val g = recallAt1(GraphAnn.graphTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1, nlist = 32, nprobe = 1,
      m = 6, replicas = 2, hops = 5, beam = 12))
    val ivf = recallAt1(Ivf.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1, nlist = 32, nprobe = 1))
    assert(g >= 0.9, s"graph recall $g")
    assert(g > ivf, s"graph $g must beat ivf $ivf at equal probe budget")
  }

  test("deterministic under repartitioning") {
    def run(parts: Int) =
      GraphAnn.graphTopK(corpus.repartition(parts), "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 1,
        m = 6, replicas = 2, hops = 3, beam = 8)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(run(2) === run(11))
  }

  test("persisted index search equals fresh build+search") {
    val dir = Files.createTempDirectory("graph-idx").toFile
    dir.deleteOnExit()
    val centroids = Ivf.fitCentroids(corpus, "embedding", 16)
    GraphAnn.writeIndex(corpus, "vec_id", "embedding",
      dir.getAbsolutePath, centroids, m = 6, replicas = 2)
    val fresh = GraphAnn.graphTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 2,
      m = 6, replicas = 2, hops = 3, beam = 8)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val fromDisk = GraphAnn.searchIndex(spark, dir.getAbsolutePath,
      queries, "vec_id", "embedding", k = 5, nprobe = 2, hops = 3, beam = 8)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(fromDisk === fresh)
  }

  test("default maxCellSize is inert on the gate fixture: capped == uncapped") {
    // the corpus-sized nlist rule keeps cells far under DefaultMaxCellSize
    // on any healthy distribution, so the guardrail must not change a
    // single edge/entry/search row vs a deliberately-uncapped build
    val centroids = Ivf.fitCentroids(corpus, "embedding", 16)
    val (eCap, nCap) = GraphAnn.build(
      corpus, "vec_id", "embedding", centroids, m = 6, replicas = 2)
    val (eRaw, nRaw) = GraphAnn.build(
      corpus, "vec_id", "embedding", centroids, m = 6, replicas = 2,
      maxCellSize = 0)
    assert(eCap.as[(Long, Long)].collect().sorted.toSeq ===
      eRaw.as[(Long, Long)].collect().sorted.toSeq)
    assert(nCap.as[(Int, Long)].collect().sorted.toSeq ===
      nRaw.as[(Int, Long)].collect().sorted.toSeq)
    val res = GraphAnn.searchTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", centroids, eCap, nCap,
      k = 5, nprobe = 1, hops = 3, beam = 8)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val resRaw = GraphAnn.searchTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", centroids, eRaw, nRaw,
      k = 5, nprobe = 1, hops = 3, beam = 8)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(res === resRaw)
  }

  test("collapsed-cell corpus: cap bounds the build, search still answers") {
    // duplicate-heavy dump: every vector is one base + per-id epsilon,
    // so one cell swallows the corpus and an uncapped build would be
    // quadratic in corpus size. With the cap the per-cell population is
    // <= maxCellSize (smallest ids kept), bounding out-edges, and the
    // walk still returns a full deterministic top-k.
    val base = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    val collapsed = (0L until 500L).map { i =>
      (i, base.zipWithIndex.map { case (x, j) =>
        x + 1e-4 * ((i * 31 + j) % 97) }.toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint()
    val centroids = Ivf.fitCentroids(collapsed, "embedding", 8)
    val cap = 64L
    val (edges, entries) = GraphAnn.build(
      collapsed, "vec_id", "embedding", centroids, m = 4, replicas = 2,
      maxCellSize = cap)
    // kept population per cell <= cap, so directed out-edges per cell
    // <= cap * m; symmetrization at most doubles
    val nCells = entries.count()
    assert(edges.count() <= 2L * cap * 4L * nCells, "edge mass bounded by cap")
    val qs = collapsed.filter(col("vec_id") < 8)
    val res = GraphAnn.searchTopK(collapsed, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries,
      k = 3, nprobe = 1, hops = 3, beam = 8)
    assert(res.count() === 24L, "full top-k per query under the cap")
    val res2 = GraphAnn.searchTopK(collapsed.repartition(7), "vec_id",
      "embedding", qs, "vec_id", "embedding", centroids, edges, entries,
      k = 3, nprobe = 1, hops = 3, beam = 8)
    assert(res.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq ===
      res2.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq)
  }

  // Decoy-cell fixture (round-11 verdict item 3): queries point at u;
  // the DECOY cell's centroid IS u but its members are a 45-degree
  // ring (cosine .707 to u — the centroid is a quantizer artifact, no
  // member is near it); the true nearest vectors are a tight TARGET
  // cluster at 20 degrees whose replica set ({target, shadow}) never
  // touches the decoy, and per-ring TRAP cells absorb the ring
  // members' second replicas. Centroid-probing (IVF nprobe=1, flat
  // graph entry) lands in the decoy and walks ring/trap space forever;
  // the medoid-scored cell walk ranks the target cell by its REAL
  // member vector (cosine .94) and enters it directly.
  private lazy val decoyFixture: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, Array[Array[Double]]) = {
    val rnd = new scala.util.Random(11)
    def unit(i: Int): Array[Double] =
      Array.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    def mix(a: Array[Double], ca: Double, b: Array[Double], cb: Double) =
      a.zip(b).map { case (x, y) => ca * x + cb * y }
    def noisy(v: Array[Double], eps: Double): Seq[Double] =
      v.map(x => x + eps * rnd.nextGaussian()).toSeq
    val u = unit(0)
    val cos20 = math.cos(math.toRadians(20)); val sin20 = math.sin(math.toRadians(20))
    val cos25 = math.cos(math.toRadians(25)); val sin25 = math.sin(math.toRadians(25))
    val targetC = mix(u, cos20, unit(25), sin20)
    val shadowC = mix(u, cos25, unit(25), sin25)
    val trapCs = (1 to 24).map(i => mix(u, 0.5, unit(i), math.sqrt(3) / 2))
    val fillerCs = (26 to 29).map(unit)
    // centroid order: decoy first (cell 0 = the hier walk's fixed seed)
    val centroids = (Seq(u, targetC, shadowC) ++ trapCs ++ fillerCs).toArray
    val ring = (1 to 24).map(i => mix(u, 0.707, unit(i), 0.707).toSeq)
    val targets = (0 until 8).map(_ => noisy(targetC, 0.02))
    val shadows = (0 until 8).map(_ => noisy(shadowC, 0.02))
    val traps = trapCs.flatMap(c => (0 until 4).map(_ => noisy(c, 0.02)))
    val fillers = fillerCs.flatMap(c => (0 until 8).map(_ => noisy(c, 0.02)))
    val corpus = (ring ++ targets ++ shadows ++ traps ++ fillers)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").localCheckpoint()
    val qs = (0 until 20).map(j => (10000L + j, noisy(u, 0.01)))
      .toDF("vec_id", "embedding").localCheckpoint()
    (corpus, qs, centroids)
  }

  test("decoy cells: IVF and flat graph miss, hier entry recovers >= 0.95") {
    val (cor, qs, centroids) = decoyFixture
    // ground truth: exact top-1 by brute force
    val truth = Ann.cosineTopK(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id").as("_true"))
    def recallOf(res: org.apache.spark.sql.DataFrame): Double =
      res.filter(col("rank") === 1).join(truth, Seq("query_id"))
        .filter(col("neighbor_id") === col("_true")).count() / 20.0
    val (edges, entries) = GraphAnn.build(
      cor, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    // IVF nprobe=1 emulated against the SAME fixed centroids: probe
    // the query's nearest cell, candidates = its primary members
    val assigned = cor.select(col("vec_id").as("neighbor_id"),
      transform(col("embedding"), x => x.cast("double")).as("_v"),
      Ann.l2norm(col("embedding")).as("_n"),
      Ivf.nearest_cells(col("embedding"), centroids, 1).getItem(0).as("cell"))
    val probed = qs.select(col("vec_id").as("query_id"),
      transform(col("embedding"), x => x.cast("double")).as("_qv"),
      Ann.l2norm(col("embedding")).as("_qn"),
      Ivf.nearest_cells(col("embedding"), centroids, 1).getItem(0).as("cell"))
    val ivfRes = probed.join(assigned, Seq("cell"))
      .withColumn("_cos", Ann.dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("_cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") === 1)
    val flat = GraphAnn.searchTopK(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries,
      k = 1, nprobe = 1, hops = 5, beam = 12)
    val hier = GraphAnn.searchTopKHier(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries,
      GraphAnn.buildCellGraph(centroids, cellM = 4),
      k = 1, entryProbe = 4, cellHops = 4, cellBeam = 4, hops = 3, beam = 8)
    val (ri, rf, rh) = (recallOf(ivfRes), recallOf(flat), recallOf(hier))
    info(s"ivf=$ri flat=$rf hier=$rh")
    assert(ri < 0.5, s"ivf recall $ri should miss on the decoy fixture")
    assert(rf < 0.5, s"flat graph recall $rf should miss on the decoy fixture")
    assert(rh >= 0.95, s"hier recall $rh")
  }

  test("hier search deterministic under repartitioning") {
    val (cor, qs, centroids) = decoyFixture
    val (edges, entries) = GraphAnn.build(
      cor, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    val cg = GraphAnn.buildCellGraph(centroids, cellM = 4)
    def run(parts: Int) =
      GraphAnn.searchTopKHier(cor.repartition(parts), "vec_id", "embedding",
        qs, "vec_id", "embedding", centroids, edges, entries, cg,
        k = 5, entryProbe = 4, cellHops = 4, cellBeam = 4, hops = 3, beam = 8)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(run(2) === run(11))
  }

  test("index append rebuilds only affected cells, equals union rebuild") {
    val half = corpus.filter(col("vec_id") % 2 === 0).localCheckpoint()
    val rest = corpus.filter(col("vec_id") % 2 =!= 0).localCheckpoint()
    val centroids = Ivf.fitCentroids(corpus, "embedding", 16)
    def searched(dir: String) =
      GraphAnn.searchIndex(spark, dir, queries, "vec_id", "embedding",
        k = 5, nprobe = 2, hops = 3, beam = 8)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val dirInc = Files.createTempDirectory("graph-idx-inc").toFile
    dirInc.deleteOnExit()
    GraphAnn.writeIndex(half, "vec_id", "embedding",
      dirInc.getAbsolutePath, centroids, m = 6, replicas = 2)
    GraphAnn.appendToIndex(rest, "vec_id", "embedding",
      dirInc.getAbsolutePath, m = 6, replicas = 2)
    val dirFull = Files.createTempDirectory("graph-idx-full").toFile
    dirFull.deleteOnExit()
    GraphAnn.writeIndex(corpus, "vec_id", "embedding",
      dirFull.getAbsolutePath, centroids, m = 6, replicas = 2)
    val inc = searched(dirInc.getAbsolutePath)
    assert(inc === searched(dirFull.getAbsolutePath),
      "append must equal a from-scratch index over the union")
    // replayed append batch is a no-op (ledger drops it whole)
    GraphAnn.appendToIndex(rest, "vec_id", "embedding",
      dirInc.getAbsolutePath, m = 6, replicas = 2)
    assert(searched(dirInc.getAbsolutePath) === inc)
  }

  test("edges are symmetric and capped; entries one per cell") {
    val centroids = Ivf.fitCentroids(corpus, "embedding", 8)
    val (edges, entries) = GraphAnn.build(
      corpus, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    val e = edges.as[(Long, Long)].collect().toSet
    assert(e.forall { case (a, b) => e.contains((b, a)) }, "symmetry")
    assert(entries.groupBy("cell").count().filter(col("count") > 1).count() === 0L)
    // out-degree before symmetrization is <= m * replicas; after
    // adding reverses a hub can exceed it, but every edge endpoint
    // must exist in the corpus
    val ids = corpus.select("vec_id").as[Long].collect().toSet
    assert(e.forall { case (a, b) => ids(a) && ids(b) })
  }

  test("scalable cell graph: recursion past the flat bound preserves the contract") {
    // 200 cells on a smooth 1-D manifold: true cell-neighbors are
    // index-adjacent, so the flat O(n²) build is an exact reference
    val nCells = 200
    val cellCentroids = (0 until nCells).map { i =>
      val t = i * 0.02
      Array(math.cos(t), math.sin(t), math.cos(2 * t) * 0.3, 1.0)
    }.toArray
    val flat = GraphAnn.buildCellGraph(cellCentroids, cellM = 4).toSet
    // flatBound = 32 << 200 forces the distributed per-super-cell path
    val rec = GraphAnn.buildCellGraphScalable(
      spark, cellCentroids, cellM = 4, flatBound = 32).toSet
    // same structural contract as the flat build
    assert(rec.forall { case (a, b) => rec.contains((b, a)) }, "symmetry")
    assert(rec.forall { case (a, b) =>
      a >= 0 && a < nCells && b >= 0 && b < nCells && a != b })
    assert(rec.size <= nCells * 4 * 2 * 2, "edge budget: ~cellM out-edges per cell")
    // quality: overlapping replica assignment recovers the manifold
    // adjacency the super-cell split would otherwise cut
    val overlap = flat.count(rec.contains).toDouble / flat.size
    assert(overlap >= 0.7, s"recursive build kept only $overlap of flat edges")
    // below the bound the scalable build IS the flat build
    assert(GraphAnn.buildCellGraphScalable(
      spark, cellCentroids, cellM = 4, flatBound = 512).toSet === flat)
  }

  test("searchIndexHier equals fresh build + hier search; fallback path too") {
    val (cor, qs, centroids) = decoyFixture
    val (edges, entries) = GraphAnn.build(
      cor, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    val cg = GraphAnn.buildCellGraph(centroids, cellM = 4)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val fresh = norm(GraphAnn.searchTopKHier(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries, cg,
      k = 3, entryProbe = 4, cellHops = 4, cellBeam = 4, hops = 3, beam = 8))
    val dir = Files.createTempDirectory("graph-idx-hier").toFile
    dir.deleteOnExit()
    GraphAnn.writeIndex(cor, "vec_id", "embedding",
      dir.getAbsolutePath, centroids, m = 4, replicas = 2)
    def served() = norm(GraphAnn.searchIndexHier(
      spark, dir.getAbsolutePath, qs, "vec_id", "embedding",
      k = 3, entryProbe = 4, cellHops = 4, cellBeam = 4, hops = 3, beam = 8))
    assert(served() === fresh, "persisted cell layer")
    // pre-round-12 index shape: no cell_edges.parquet — rebuilt on
    // the fly from the stored centroids, same results
    val ce = new org.apache.hadoop.fs.Path(s"${dir.getAbsolutePath}/cell_edges.parquet")
    ce.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ce, true)
    assert(served() === fresh, "fallback cell layer")
  }

  test("hier search through a recursively-built cell layer keeps decoy recall") {
    val (cor, qs, centroids) = decoyFixture
    val truth = Ann.cosineTopK(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id").as("_true"))
    val (edges, entries) = GraphAnn.build(
      cor, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    // flatBound = 8 << 31 cells: the cell layer itself is built by the
    // distributed recursion; the walk contract must be unaffected
    val cg = GraphAnn.buildCellGraphScalable(
      spark, centroids, cellM = 4, flatBound = 8)
    val hier = GraphAnn.searchTopKHier(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries, cg,
      k = 1, entryProbe = 4, cellHops = 4, cellBeam = 4, hops = 3, beam = 8)
    val recall = hier.filter(col("rank") === 1).join(truth, Seq("query_id"))
      .filter(col("neighbor_id") === col("_true")).count() / 20.0
    assert(recall >= 0.95, s"hier recall through recursive cell layer: $recall")
  }

  test("driver-local walk equals the distributed walk exactly (flat + hier)") {
    // round-16 ADVICE: the local-walk fast path captures every small
    // fixture, so the distributed baseWalk/searchTopKHier would
    // otherwise lose automated coverage — force it with the shared row
    // cap at 0 and pin exact equality (ids, cosines, ranks) against
    // the local path.
    val (cor, qs, centroids) = decoyFixture
    val (edges, entries) = GraphAnn.build(
      cor, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    val cg = GraphAnn.buildCellGraph(centroids, cellM = 4)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    def flatWalk() = GraphAnn.searchTopK(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries,
      k = 5, nprobe = 2, hops = 3, beam = 8)
    def hierWalk() = GraphAnn.searchTopKHier(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries, cg,
      k = 5, entryProbe = 4, cellHops = 4, cellBeam = 4, hops = 3, beam = 8)
    def flat() = norm(flatWalk())
    def hier() = norm(hierWalk())
    val (localFlat, localHier) = (flat(), hier())
    spark.conf.set("spark.graft.graph.localEdgeLimit", "0")
    try {
      assert(flat() === localFlat, "distributed flat walk must equal local")
      assert(hier() === localHier, "distributed hier walk must equal local")
    } finally spark.conf.unset("spark.graft.graph.localEdgeLimit")
    // the walks release every superseded round and the medoid pin,
    // within the jobs the hand-written loops ran on this fixture
    val walks = Seq(("searchTopK", () => flatWalk(), 35), ("searchTopKHier", () => hierWalk(), 67))
    for ((name, walk, maxJobs) <- walks) {
      val (_, jobs, leaked) = graft.operators.LinkGraphSpec.distributed(spark)(loopFootprint(walk()))
      assert(leaked.isEmpty, s"$name: left persisted: $leaked")
      assert(jobs <= maxJobs, s"$name: jobs: $jobs")
    }
    // the shared byte guard (widen.maxBytes) must route to the SAME
    // distributed path: equality again with a 1-byte budget
    spark.conf.set("spark.graft.widen.maxBytes", "1")
    try {
      assert(flat() === localFlat, "byte-guard fallback must equal local")
      assert(hier() === localHier, "byte-guard fallback (hier) must equal local")
    } finally spark.conf.unset("spark.graft.widen.maxBytes")
  }

  test("null vectors and null vector elements fall back to the distributed walk") {
    // the local walk holds no nulls; a null vector (whose norm is null
    // too) or a null element must route the search to the distributed
    // walk, whose SQL three-valued scoring the output must then equal
    val (cor0, qs, centroids) = decoyFixture
    val (edges, entries) = GraphAnn.build(
      cor0, "vec_id", "embedding", centroids, m = 4, replicas = 2)
    val cor = cor0.select(col("vec_id"),
      when(col("vec_id") % 5 === 0L, lit(null))
        .when(col("vec_id") % 7 === 3L,
          transform(col("embedding"), (x, i) => when(i === 0, lit(null)).otherwise(x)))
        .otherwise(col("embedding")).as("embedding"))
    def flat() = GraphAnn.searchTopK(cor, "vec_id", "embedding",
      qs, "vec_id", "embedding", centroids, edges, entries,
      k = 30, nprobe = 2, hops = 3, beam = 8).collect().map(_.toString).sorted.toSeq
    val got = flat()
    spark.conf.set("spark.graft.graph.localEdgeLimit", "0")
    try assert(got === flat(), "null payloads must serve the distributed walk")
    finally spark.conf.unset("spark.graft.graph.localEdgeLimit")
  }

  test("hierarchical assignment: full fan IS the flat rank; small fan keeps fidelity") {
    import spark.implicits._
    // 60 centroids in 12 well-separated direction clusters
    val rnd = new scala.util.Random(7)
    val cents = (0 until 60).map { i =>
      val base = i % 12
      val t = base * (2 * math.Pi / 12)
      Array(math.cos(t) + rnd.nextGaussian() * 0.02,
        math.sin(t) + rnd.nextGaussian() * 0.02,
        0.3 + rnd.nextGaussian() * 0.02)
    }.toArray
    val layer = Ivf.fitCoarseLayer(spark, cents, g = 8)
    assert(layer.members.map(_.length).sum === 60,
      "every centroid belongs to exactly one coarse group")
    val vecs = (0 until 300).map { i =>
      val t = (i % 12) * (2 * math.Pi / 12)
      (i.toLong, Seq(math.cos(t) + rnd.nextGaussian() * 0.05,
        math.sin(t) + rnd.nextGaussian() * 0.05,
        0.3 + rnd.nextGaussian() * 0.05))
    }.toDF("id", "v")
    // fan >= #groups: exactly the flat expression, ties included
    val both = vecs.select(
      Ivf.nearest_cells(col("v"), cents, 3).as("flat"),
      Ivf.nearest_cells_hier(col("v"), layer, cents, 3, fan = 8).as("full"),
      Ivf.nearest_cells_hier(col("v"), layer, cents, 3, fan = 2).as("narrow"))
      .collect()
    assert(both.forall(r => r.getSeq[Int](0) == r.getSeq[Int](1)),
      "full-fan hier assignment must equal the flat rank exactly")
    // fan = 2 of 8 groups: the nearest cell still found for nearly all
    // rows on a separated fixture (each direction cluster maps into
    // few coarse groups)
    val hit = both.count(r => r.getSeq[Int](2).headOption ==
      r.getSeq[Int](0).headOption).toDouble / both.length
    assert(hit >= 0.9, s"narrow-fan top-1 fidelity: $hit")
    // candidate widening: nprobe larger than the first groups' pool
    // keeps returning nprobe cells
    val wide = vecs.select(Ivf.nearest_cells_hier(
      col("v"), layer, cents, 40, fan = 1).as("w")).collect()
    assert(wide.forall(_.getSeq[Int](0).length === 40))
  }

  test("scalable cell graph with hierarchical assignment keeps the flat-build contract") {
    val nCells = 200
    val cellCentroids = (0 until nCells).map { i =>
      val t = i * 0.02
      Array(math.cos(t), math.sin(t), math.cos(2 * t) * 0.3, 1.0)
    }.toArray
    val flat = GraphAnn.buildCellGraph(cellCentroids, cellM = 4).toSet
    // flatBound = 32 forces the distributed path (superK = 25);
    // hierAssignBound = 8 << 25 forces the COARSE-LAYER assignment too
    val rec = GraphAnn.buildCellGraphScalable(
      spark, cellCentroids, cellM = 4, flatBound = 32,
      hierAssignBound = 8).toSet
    assert(rec.forall { case (a, b) => rec.contains((b, a)) }, "symmetry")
    assert(rec.forall { case (a, b) =>
      a >= 0 && a < nCells && b >= 0 && b < nCells && a != b })
    val overlap = flat.count(rec.contains).toDouble / flat.size
    assert(overlap >= 0.7,
      s"hier-assigned recursive build kept only $overlap of flat edges")
  }
}
