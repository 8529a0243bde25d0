package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Widen

/** Graph-based ANN over the IVF coarse partitioning (the round-10
  * verdict item 3): a per-cell k-nearest-neighbor graph (the NSW/
  * Vamana family's neighborhood structure, built distributed) searched
  * by a deterministic bounded-hop beam walk from per-cell entry
  * points. The recall win over plain IVF comes from OVERLAPPING cell
  * assignment at build time: every vector joins the graphs of its
  * `replicas` nearest cells, so boundary vectors carry edges ACROSS
  * cells and a walk that starts in the query's cell can reach true
  * neighbors whose own primary cell was never probed — the case where
  * IVF at the same probe budget is structurally blind (its candidate
  * set is exactly the probed cells).
  *
  * 100 TB shape: the build is one replicate-explode + per-cell
  * equi-join with a per-(cell, src) top-M rank (InferWindowGroupLimit
  * bounds the map side; `maxCellSize` caps the within-cell quadratic
  * exactly like [[SemDedup]]); search touches `nprobe` entry rows per
  * query and at most `beam * M` candidate rows per hop — cost is a
  * constant per query, independent of corpus size. Everything is
  * deterministic ((cosine DESC, id ASC) tie-breaks), so the DuckDB
  * oracle can replay the walk from engine-supplied edges/entries and
  * recompute every cosine from the raw vectors.
  */
object GraphAnn {

  /** Default within-cell quadratic guard. The corpus-sized
    * `nlist = max(64, rows/160)` rule bounds the AVERAGE cell at
    * ~160·replicas rows, so this cap never fires on a healthy
    * distribution — it exists for the collapsed-cell corpus (a
    * duplicate-heavy embedding dump, exactly what a dedup pipeline
    * sees), where one cell swallows the corpus and the per-cell
    * self-join otherwise goes quadratic in corpus size. 1024 is ~3x
    * the healthy average cell and caps the worst cell at 1024² ≈ 1M
    * scored pairs — a single-digit-seconds task (ScaleBench phase 1l
    * measured 2048² ≈ 4.2M pairs at 6–16 s max-task; 1M keeps the
    * guardrail's own worst case short) — while dropped rows keep
    * their OTHER replica cells (graceful coverage degradation, the
    * [[SemDedup]] discipline).
    */
  val DefaultMaxCellSize: Long = 1024L

  /** Neighbor graph + entry points.
    * edges: (src, dst) directed top-`m` by cosine within each of the
    * vector's `replicas` assigned cells (deduped); entries: per cell
    * the medoid-ish vector (max cosine to the centroid, id tie-break).
    */
  def build(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int = 6, replicas: Int = 2,
      maxCellSize: Long = DefaultMaxCellSize,
      hier: Option[Ivf.CoarseLayer] = None): (DataFrame, DataFrame) = {
    require(m >= 1 && replicas >= 1, "build: m, replicas >= 1")
    // assignCapped: the maxCellSize quadratic guard keeps the
    // maxCellSize smallest ids per cell — the SemDedup cap discipline
    // (dropped rows keep their OTHER replica cells, so coverage
    // degrades gracefully)
    val assigned = assignCapped(
      corpus, idCol, vecCol, centroids, replicas, maxCellSize, hier)
    // symmetrize: a directed kNN graph is not navigable (hub points
    // collect in-edges their own out-lists never return; greedy walks
    // stall in local clumps) — NSW keeps both directions for exactly
    // this reason, and the measured difference on the jitter fixture
    // is recall 0.55 directed vs >= 0.9 undirected
    val knn = directedCellKnn(assigned, m).select(col("src"), col("dst"))
    val edges = knn
      .unionByName(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    (edges, entriesOf(assigned, centroids))
  }

  /** Deterministic bounded-hop beam search. Pool semantics (mirrored
    * verbatim by the oracle's unrolled CTEs):
    *   pool_0 = entry points of the query's `nprobe` cells
    *   pool_{i+1} = pool_i ∪ out-neighbors(top-`beam` of pool_i)
    *   answer = top-k of pool_`hops` (self excluded), exact cosine
    * `hops` iterations of two narrow joins + one per-query rank —
    * per-query cost is O(beam · m · hops), corpus-size independent.
    */
  def searchTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      centroids: Array[Array[Double]], edges: DataFrame, entries: DataFrame,
      k: Int, nprobe: Int = 1, hops: Int = 3, beam: Int = 8,
      maxQueries: Int = Ann.MaxQueries): DataFrame = {
    require(hops >= 1 && beam >= 1, "searchTopK: hops, beam >= 1")
    Ann.requireBoundedQueries(queries, maxQueries, "graphTopK")
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      transform(col(qvecCol), x => x.cast("double")).as("_qv"),
      Ann.l2norm(col(qvecCol)).as("_qn"),
      Ivf.nearest_cells(col(qvecCol), centroids,
        math.min(nprobe, centroids.length)).as("_cells"))
    localCtxFor(corpus, idCol, vecCol, edges, entries, q,
      withCells = true) match {
      case Some(ctx) =>
        localResultFrame(corpus.sparkSession, ctx.queries.iterator.flatMap { lq =>
          val pool0 = lq.cells.iterator
            .flatMap(ctx.entryByCell.get).toArray.distinct
          localWalk(ctx, lq, pool0, k, hops, beam)
        }.toSeq)
      case None =>
        val qb = broadcast(q)
        val pool0 = qb.select(col("query_id"), explode(col("_cells")).as("cell"))
          .join(entries, Seq("cell"))
          .select(col("query_id"), col("entry_id").as("node"))
          .distinct()
        baseWalk(corpus, idCol, vecCol, qb, pool0, edges, k, hops, beam)
    }
  }

  /** The base-layer beam walk of [[searchTopK]] and [[searchTopKHier]],
    * which differ ONLY in how pool_0 is chosen: the `entry` rounds turn
    * `init` into pool_0 (none for [[searchTopK]]), then `hops` (>= 1)
    * beam rounds follow, all on one [[Widen.iterate]] loop. The last
    * hop runs lazily, so the result reads only the round before it.
    */
  private def baseWalk(
      corpus: DataFrame, idCol: String, vecCol: String,
      qb: DataFrame, init: DataFrame, edges: DataFrame,
      k: Int, hops: Int, beam: Int,
      entry: Seq[DataFrame => DataFrame] = Nil): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("node"),
      transform(col(vecCol), x => x.cast("double")).as("_cv"),
      Ann.l2norm(col(vecCol)).as("_cn"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("node").asc)
    def scored(p: DataFrame): DataFrame =
      p.join(c, Seq("node"))
        .join(qb.select(col("query_id"), col("_qv"), col("_qn")), Seq("query_id"))
        .withColumn("_cos",
          Ann.dot(col("_cv"), col("_qv")) / (col("_cn") * col("_qn")))
    // each round reads a checkpoint: pool_i feeds BOTH the beam rank
    // and the union, and without the cut the repeated subtree doubles
    // per hop (2^hops recompute of the early rounds — measured 7 s vs
    // ~1 s at sf0.1). The frames are tiny (<= queries * pool size)
    def hop(pool: DataFrame): DataFrame = {
      val beamFront = scored(pool)
        .withColumn("_rk", row_number().over(wq))
        .filter(col("_rk") <= beam)
        .select(col("query_id"), col("node"))
      pool.unionByName(beamFront.join(edges, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))).distinct()
    }
    scored(hop(Widen.iterate(init, entry ++ Seq.fill(hops - 1)(hop _))))
      .filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        round(col("_cos"), 4).as("cosine"), col("rank"))
  }

  // ---- bounded driver-side walk (opt guide §1.2: fix the distributed
  // algorithm first). The distributed walk is `cellHops + hops` rounds
  // of two narrow joins + a rank window, each behind a localCheckpoint
  // — correct and corpus-scalable, but at bench scale the ~10 job
  // rounds ARE the cost (the per-round frames hold <= queries × pool
  // rows). When [[graft.operators.Widen.collectSmall]] admits the
  // corpus, edge list, query set and entry table (the byte guard, then
  // <= spark.graft.graph.localEdgeLimit rows each, default 200k — the
  // broadcast size class every graph fast path shares), the identical
  // walk runs as a driver loop over one bounded collect per frame: same
  // index-order double accumulation as [[DotProductExpr]], same
  // SQLOrderingUtil double ordering (primitive == then Double.compare:
  // -0.0 == 0.0, NaN greatest), same NULLS LAST on the descending
  // cosine rank, same HALF_UP round-to-4. Above the limit the
  // distributed walk runs unchanged — the 100 TB path is untouched.

  private final case class LocalQuery(
      id: Long, v: Array[Double], n: Double, cells: Array[Int])

  private final class LocalCtx(
      val vecs: scala.collection.mutable.LongMap[(Array[Double], Double)],
      val adj: scala.collection.mutable.LongMap[Array[Long]],
      val queries: Array[LocalQuery],
      val entries: Array[(Int, Long)]) {
    val entryByCell: Map[Int, Long] = entries.map(e => e._1 -> e._2).toMap
  }

  /** Collect the walk's inputs iff [[graft.operators.Widen.collectSmall]]
    * admits every frame; None falls back to the distributed walk.
    * Collect order: edges first (already localCheckpoint'ed by every
    * caller — a cheap probe that vetoes the corpus scan when the graph
    * alone is too big), then corpus.
    */
  private def localCtxFor(
      corpus: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, entries: DataFrame, q: DataFrame,
      withCells: Boolean): Option[LocalCtx] = try {
    import graft.operators.Widen.collectSmall
    // node ids cast to long exactly as [[baseWalk]] casts them
    val c = corpus.select(col(idCol).cast("long").as("node"),
      transform(col(vecCol), x => x.cast("double")).as("_cv"),
      Ann.l2norm(col(vecCol)).as("_cn"))
    val qCols =
      if (withCells) q.select(col("query_id"), col("_qv"), col("_qn"), col("_cells"))
      else q.select(col("query_id"), col("_qv"), col("_qn"))
    val collected = for {
      eRows <- collectSmall(edges.select("src", "dst"), "src", "dst")
      cRows <- collectSmall(c, "node")
      qRows <- collectSmall(qCols, "query_id")
      entryRows <- collectSmall(
        entries.select(col("cell").cast("int"), col("entry_id")), "entry_id")
    } yield (eRows, cRows, qRows, entryRows)
    if (collected.isEmpty) return None
    val (eRows, cRows, qRows, entryRows) = collected.get
    val vecs = new scala.collection.mutable.LongMap[(Array[Double], Double)](cRows.length * 2)
    cRows.foreach { r =>
      val node = r.getLong(0)
      // first-wins on a duplicate id (a malformed corpus duplicates
      // scored rows distributed too — not a shape worth mirroring)
      if (!vecs.contains(node))
        vecs.update(node, (r.getSeq[Double](1).toArray, r.getDouble(2)))
    }
    val adjB = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]]()
    eRows.foreach { r =>
      adjB.getOrElseUpdate(r.getLong(0), scala.collection.mutable.ArrayBuffer.empty) += r.getLong(1)
    }
    val adj = adjB.map { case (k2, v) => (k2, v.toArray) }
    val queries = qRows.map { r =>
      LocalQuery(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        if (withCells) r.getSeq[Int](3).toArray else Array.emptyIntArray)
    }
    Some(new LocalCtx(vecs, adj, queries,
      entryRows.map(r => (r.getInt(0), r.getLong(1)))))
  } catch {
    // a shape the local mirror can't hold exactly — a null vector, norm
    // or cell (ids are null-free), or null vector ELEMENTS, which throw
    // here but flow as nulls through the SQL walk (mirroring the
    // three-valued walk null-for-null is not worth it) — serve it from
    // the distributed path
    case scala.util.control.NonFatal(_) => None
  }

  /** SQLOrderingUtil.compareDoubles: primitive == first (-0.0 == 0.0),
    * then Double.compare (NaN greatest).
    */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** (cosine DESC NULLS LAST, id ASC) — the walk's only ordering. */
  private def rankLt(a: (Long, java.lang.Double), b: (Long, java.lang.Double)): Boolean = {
    val c =
      if (a._2 == null && b._2 == null) 0
      else if (a._2 == null) 1
      else if (b._2 == null) -1
      else -cmpDouble(a._2, b._2)
    if (c != 0) c < 0 else a._1 < b._1
  }

  /** round(x, 4) for DoubleType: NaN/Inf pass through, else
    * BigDecimal.valueOf (Double.toString semantics) HALF_UP.
    */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Cosine of `lq` against node, exactly as the distributed scored():
    * index-order dot (null on length mismatch — poisons through the
    * division like the SQL null), then / (cn * qn). None = node not in
    * the corpus (the inner join drops it from scoring only).
    */
  private def localCos(
      ctx: LocalCtx, lq: LocalQuery, node: Long): Option[java.lang.Double] =
    ctx.vecs.get(node).map { case (cv, cn) => cosineTo(lq, cv, cn) }

  /** `lq`'s cosine against vector `v` of norm `n` (null on a length
    * mismatch), shared by the node and the medoid scoring. */
  private def cosineTo(lq: LocalQuery, v: Array[Double], n: Double): java.lang.Double =
    if (v.length != lq.v.length) null
    else {
      var acc = 0.0
      var i = 0
      while (i < v.length) { acc += v(i) * lq.v(i); i += 1 }
      java.lang.Double.valueOf(acc / (n * lq.n))
    }

  /** The per-query beam walk, identical to [[baseWalk]]'s pool
    * semantics; returns the (query_id, neighbor_id, cosine, rank) rows.
    */
  private def localWalk(
      ctx: LocalCtx, lq: LocalQuery, pool0: Array[Long],
      k: Int, hops: Int, beam: Int): Seq[org.apache.spark.sql.Row] = {
    val pool = scala.collection.mutable.HashSet.empty[Long]
    pool ++= pool0
    def scoredPool(): Array[(Long, java.lang.Double)] =
      pool.iterator.flatMap(n => localCos(ctx, lq, n).map(n -> _))
        .toArray.sortWith(rankLt)
    var i = 0
    while (i < hops) {
      scoredPool().iterator.take(beam).foreach { case (n, _) =>
        ctx.adj.get(n).foreach(pool ++= _)
      }
      i += 1
    }
    scoredPool().iterator.filter(_._1 != lq.id).take(k).zipWithIndex.map {
      case ((node, cos), idx) =>
        org.apache.spark.sql.Row(lq.id, node,
          if (cos == null) null else java.lang.Double.valueOf(round4(cos)),
          idx + 1)
    }.toSeq
  }

  private def localResultFrame(
      spark: SparkSession, rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("query_id", LongType),
        StructField("neighbor_id", LongType),
        StructField("cosine", DoubleType),
        StructField("rank", IntegerType, nullable = false))))
  }

  /** [[searchTopKHier]]'s cell walk + base walk as one driver loop
    * (entry semantics identical: seed = min cell, cells scored by
    * medoid cosine, (cos DESC, cell ASC) beam, entries of the top
    * `entryProbe` cells seed the base walk).
    */
  private def localHierSearch(
      spark: SparkSession, ctx: LocalCtx, cellEdges: Array[(Int, Int)],
      k: Int, entryProbe: Int, cellHops: Int, cellBeam: Int,
      hops: Int, beam: Int): DataFrame = {
    // medoids: entry_id's corpus vector — the distributed join drops
    // cells whose entry vector is missing from the corpus
    val medoid: Map[Int, (Array[Double], Double)] =
      ctx.entries.flatMap { case (cell, eid) =>
        ctx.vecs.get(eid).map(cell -> _)
      }.toMap
    val cellAdj: Map[Int, Array[Int]] =
      cellEdges.groupBy(_._1).map { case (s, es) => (s, es.map(_._2)) }
    val seedCell = ctx.entries.iterator.map(_._1).min
    val rows = ctx.queries.iterator.flatMap { lq =>
      def cosCell(cell: Int): Option[(Long, java.lang.Double)] =
        medoid.get(cell).map { case (mv, mn) => (cell.toLong, cosineTo(lq, mv, mn)) }
      val cellPool = scala.collection.mutable.HashSet[Int](seedCell)
      def scoredCells(): Array[(Long, java.lang.Double)] =
        cellPool.iterator.flatMap(cosCell).toArray.sortWith(rankLt)
      var i = 0
      while (i < cellHops) {
        scoredCells().iterator.take(cellBeam).foreach { case (cell, _) =>
          cellAdj.get(cell.toInt).foreach(ds => cellPool ++= ds)
        }
        i += 1
      }
      val pool0 = scoredCells().iterator.take(entryProbe)
        .flatMap { case (cell, _) => ctx.entryByCell.get(cell.toInt) }
        .toArray.distinct
      localWalk(ctx, lq, pool0, k, hops, beam)
    }.toSeq
    localResultFrame(spark, rows)
  }

  /** Coarse navigable layer over the cells (the round-10 verdict's
    * item 3, HNSW's top layer in spirit): cells as nodes, each linked
    * to its `cellM` nearest cells by centroid cosine (cos DESC, cell
    * ASC tie-break), symmetrized. Built driver-side — the centroid
    * array is already driver-resident from the fit, and nlist² stays
    * trivial up to the guarded bound (64k cells = 4G ops is where it
    * stops being trivial; beyond that use [[buildCellGraphScalable]],
    * which recurses: fits a coarser quantizer over the CENTROIDS and
    * runs the distributed [[build]] per-super-cell, one level up).
    */
  def buildCellGraph(
      centroids: Array[Array[Double]], cellM: Int = 4): Array[(Int, Int)] = {
    val n = centroids.length
    require(n.toLong * n <= (1L << 32),
      s"buildCellGraph: $n cells exceeds the driver-side flat bound — " +
        "use buildCellGraphScalable (distributed per-super-cell build)")
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val directed = for {
      i <- centroids.indices
      j <- centroids.indices
        .filter(_ != i)
        .sortBy(j => (-dotd(centroids(i), centroids(j)) / (norms(i) * norms(j)), j))
        .take(math.min(cellM, n - 1))
    } yield (i, j)
    (directed ++ directed.map { case (a, b) => (b, a) }).distinct.sorted.toArray
  }

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** [[buildCellGraph]] without the driver bound — the recursion the
    * flat builder's scaladoc promises, made real: up to `flatBound`
    * cells the flat O(n²) build runs as before; beyond it the
    * CENTROIDS become a corpus, a coarser quantizer is fitted over
    * them (bounded deterministic sample), and the distributed
    * [[build]] machinery produces the per-super-cell centroid kNN one
    * level up — overlapping replica assignment carries cross-super-
    * cell edges (the same trick that makes the base layer navigable
    * across cells), `maxCellSize = flatBound` caps the within-super-
    * cell quadratic, and a skewed super-cell degrades coverage
    * gracefully instead of going quadratic. Output contract identical
    * to the flat build: symmetrized, deduped, sorted (src, dst) with
    * ~`cellM` out-edges per cell, so the per-query walk cost —
    * O(cellBeam · cellM · cellHops) — is unchanged; only the BUILD
    * scales out. Billion-vector shape: nlist = rows/160 puts 6M cells
    * at 1e9 rows; the flat 65k bound dies there, this build is one
    * replicate-explode + per-super-cell join over an nlist-row frame.
    */
  def buildCellGraphScalable(
      spark: SparkSession,
      centroids: Array[Array[Double]], cellM: Int = 4,
      flatBound: Int = 16384, hierAssignBound: Int = 4096): Array[(Int, Int)] = {
    require(flatBound >= 4, "buildCellGraphScalable: flatBound >= 4")
    val n = centroids.length
    if (n <= flatBound) buildCellGraph(centroids, cellM)
    else {
      import spark.implicits._
      // centroid frame: n rows of (cell id, vector) — parallelize, not
      // a LocalRelation literal (a million-row literal bloats the plan)
      val cdf = spark.sparkContext
        .parallelize(centroids.toIndexedSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toIndexedSeq) }, 32)
        .toDF("cid", "cvec")
      // average super-cell ≈ flatBound/4 members: each within-super-
      // cell kNN stays far inside the flat regime even at 2x replicas
      val superK = math.max(4, n / math.max(1, flatBound / 4))
      val superCentroids = Ivf.fitCentroids(cdf, "cvec", superK)
      // multi-layer recursion in the ASSIGNMENT step: past
      // hierAssignBound super-cells, per-row assignment cost drops
      // from O(superK·d) to O(√superK·d·fan) through a coarse layer
      // over the super-centroids — without it the assignment itself
      // re-grows the quadratic the super split removed
      val hier =
        if (superK > hierAssignBound)
          Some(Ivf.fitCoarseLayer(spark, superCentroids))
        else None
      val (edges, _) = build(cdf, "cid", "cvec", superCentroids,
        m = cellM, replicas = 2, maxCellSize = flatBound.toLong,
        hier = hier)
      edges.select(col("src").cast("int"), col("dst").cast("int"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    }
  }

  /** Hierarchical entry selection + base walk: instead of probing the
    * query's `nprobe` nearest cells (an O(nlist·dim) exact centroid
    * scan per query — and structurally blind when the true neighbor's
    * cell is not among them), walk the [[buildCellGraph]] layer from a
    * FIXED seed cell (HNSW's single global entry point), scoring
    * candidate cells by cosine(query, cell MEDOID vector) — a real
    * corpus vector, so entry selection reflects the data rather than
    * the quantizer's artifacts — then seed the base walk with the
    * entries of the top `entryProbe` walked cells. Per-query cost is
    * O(cellBeam · cellM · cellHops + beam · m · hops), independent of
    * BOTH corpus size and nlist. Deterministic throughout ((cos DESC,
    * cell/node ASC) tie-breaks), so the DuckDB oracle replays the cell
    * walk and the base walk from engine-supplied structure alone.
    */
  def searchTopKHier(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      centroids: Array[Array[Double]], edges: DataFrame, entries: DataFrame,
      cellEdges: Array[(Int, Int)], k: Int, entryProbe: Int = 4,
      cellHops: Int = 4, cellBeam: Int = 4, hops: Int = 3, beam: Int = 8,
      maxQueries: Int = Ann.MaxQueries): DataFrame = {
    require(entryProbe >= 1 && cellHops >= 1 && cellBeam >= 1 && hops >= 1,
      "searchTopKHier: entryProbe, cellHops, cellBeam, hops >= 1")
    Ann.requireBoundedQueries(queries, maxQueries, "searchTopKHier")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      transform(col(qvecCol), x => x.cast("double")).as("_qv"),
      Ann.l2norm(col(qvecCol)).as("_qn"))
    localCtxFor(corpus, idCol, vecCol, edges, entries, q,
      withCells = false) match {
      case Some(ctx) =>
        return localHierSearch(spark, ctx, cellEdges, k, entryProbe,
          cellHops, cellBeam, hops, beam)
      case None => ()
    }
    val qb = broadcast(q)
    // medoid vectors: the per-cell entry point's REAL vector — pinned
    // (it feeds every cell-walk round) then broadcast; the returned
    // frame does not read it, as the walk checkpoints pool_0 first
    Widen.pinned(entries
      .join(corpus.select(col(idCol).cast("long").as("entry_id"),
        transform(col(vecCol), x => x.cast("double")).as("_mv"),
        Ann.l2norm(col(vecCol)).as("_mn")), Seq("entry_id"))
      .select(col("cell"), col("_mv"), col("_mn"))) { medoids =>
      val ce = broadcast(cellEdges.toSeq.toDF("csrc", "cdst"))
      val seedCell = entries.agg(min(col("cell"))).collect()(0).getInt(0)
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("_cos").desc, col("cell").asc)
      def scoredCells(p: DataFrame): DataFrame =
        p.join(broadcast(medoids), Seq("cell"))
          .join(qb.select(col("query_id"), col("_qv"), col("_qn")), Seq("query_id"))
          .withColumn("_cos",
            Ann.dot(col("_mv"), col("_qv")) / (col("_mn") * col("_qn")))
      def cellHop(cellPool: DataFrame): DataFrame = {
        val front = scoredCells(cellPool)
          .withColumn("_rk", row_number().over(wc))
          .filter(col("_rk") <= cellBeam)
          .select(col("query_id"), col("cell"))
        cellPool.unionByName(front.join(ce, col("cell") === col("csrc"))
          .select(col("query_id"), col("cdst").as("cell"))).distinct()
      }
      // the last cell hop also picks the entry cells and their pool_0
      def entryPool(cellPool: DataFrame): DataFrame =
        scoredCells(cellHop(cellPool))
          .withColumn("_rk", row_number().over(wc))
          .filter(col("_rk") <= entryProbe)
          .select(col("query_id"), col("cell"))
          .join(entries, Seq("cell"))
          .select(col("query_id"), col("entry_id").as("node"))
          .distinct()
      baseWalk(corpus, idCol, vecCol, qb,
        qb.select(col("query_id"), lit(seedCell).as("cell")), edges, k, hops, beam,
        Seq.fill(cellHops - 1)(cellHop _) :+ (entryPool _))
    }
  }

  /** Train + build + hierarchical search in one call (the
    * [[graphTopK]] shape with [[searchTopKHier]] as the entry path).
    */
  def graphTopKHier(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nlist: Int = 16, m: Int = 6, replicas: Int = 2,
      entryProbe: Int = 4, cellHops: Int = 4, cellBeam: Int = 4,
      hops: Int = 3, beam: Int = 8, cellM: Int = 4,
      cacheKey: Option[String] = None,
      maxCellSize: Long = DefaultMaxCellSize): DataFrame = {
    val centroids = Ivf.fitCentroids(corpus, vecCol, nlist, cacheKey = cacheKey)
    val (edges, entries) = buildCached(
      corpus, idCol, vecCol, centroids, m, replicas,
      cacheKey.map(ck => (ck, nlist)), maxCellSize)
    searchTopKHier(corpus, idCol, vecCol, queries, qidCol, qvecCol,
      centroids, edges, entries,
      buildCellGraphScalable(corpus.sparkSession, centroids, cellM),
      k, entryProbe, cellHops, cellBeam, hops, beam)
  }

  /** Train + build + search in one call (the [[Ivf.ivfTopK]] shape).
    * With a `cacheKey`, the fitted quantizer AND the built graph memo
    * per process (the [[Ivf.fitCentroids]] discipline): the graph is
    * the expensive build-once artifact, and the search/recall queries
    * plus the oracle generator all walk the same structure.
    */
  def graphTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 1, m: Int = 6,
      replicas: Int = 2, hops: Int = 3, beam: Int = 8,
      cacheKey: Option[String] = None,
      maxCellSize: Long = DefaultMaxCellSize): DataFrame = {
    val centroids = Ivf.fitCentroids(corpus, vecCol, nlist, cacheKey = cacheKey)
    val (edges, entries) = buildCached(
      corpus, idCol, vecCol, centroids, m, replicas,
      cacheKey.map(ck => (ck, nlist)), maxCellSize)
    searchTopK(corpus, idCol, vecCol, queries, qidCol, qvecCol,
      centroids, edges, entries, k, nprobe, hops, beam)
  }

  /** [[build]] behind the per-process memo (checkpointed frames).
    * Keyed on `(applicationId, startTime)` plus the build params (the
    * [[graft.textops.Bpe]] cache discipline): localCheckpoint'ed
    * frames are owned by their SparkContext, so a memo hit from a
    * PREVIOUS context in the same JVM would hand back dangling RDDs.
    * Entries whose owning context has stopped are evicted on lookup.
    */
  def buildCached(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int, replicas: Int,
      key: Option[(String, Int)],
      maxCellSize: Long = DefaultMaxCellSize): (DataFrame, DataFrame) = {
    def built(): (DataFrame, DataFrame) = {
      val (e, n) = build(corpus, idCol, vecCol, centroids, m, replicas, maxCellSize)
      (e.localCheckpoint(), n.localCheckpoint())
    }
    key match {
      case Some((ck, nlist)) =>
        val sc = corpus.sparkSession.sparkContext
        graphMemo.foreach { case (k, (ref, _)) =>
          val owner = ref.get()
          if (owner == null || owner.isStopped) graphMemo.remove(k)
        }
        val memoKey = (sc.applicationId, sc.startTime, ck, nlist, m, replicas, maxCellSize)
        graphMemo.getOrElseUpdate(
          memoKey, (new java.lang.ref.WeakReference(sc), built()))._2
      case None => built()
    }
  }

  private[vector] val graphMemo =
    scala.collection.concurrent.TrieMap
      .empty[(String, Long, String, Int, Int, Int, Long),
        (java.lang.ref.WeakReference[org.apache.spark.SparkContext], (DataFrame, DataFrame))]

  /** The DIRECTED per-cell kNN lists — [[build]]'s intermediate
    * before global dedup + symmetrization, kept cell-keyed so the
    * persisted index can rebuild ONE cell's lists without touching
    * the rest ([[appendToIndex]]). `cells` (None = all) restricts the
    * computation to the given cells' populations.
    */
  private def directedCellKnn(
      assigned: DataFrame, m: Int): DataFrame = {
    val a = assigned.select(col("cell"), col("id").as("src"),
      col("_v").as("_sv"), col("_n").as("_sn"))
    val b = assigned.select(col("cell"), col("id").as("dst"),
      col("_v").as("_dv"), col("_n").as("_dn"))
    val w = Window.partitionBy(col("cell"), col("src"))
      .orderBy(col("_cos").desc, col("dst").asc)
    a.join(b, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .withColumn("_cos",
        Ann.dot(col("_sv"), col("_dv")) / (col("_sn") * col("_dn")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= m)
      .select(col("cell"), col("src"), col("dst"))
  }

  /** Capped replica-cell assignment — [[build]]'s first stage, shared
    * with the index append path.
    */
  private def assignCapped(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], replicas: Int,
      maxCellSize: Long,
      hier: Option[Ivf.CoarseLayer] = None): DataFrame = {
    val nearest = hier match {
      case Some(layer) => Ivf.nearest_cells_hier(col(vecCol), layer,
        centroids, math.min(replicas, centroids.length), fan = 8)
      case None => Ivf.nearest_cells(col(vecCol), centroids,
        math.min(replicas, centroids.length))
    }
    val assigned0 = corpus.select(
      col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("_v"),
      Ann.l2norm(col(vecCol)).as("_n"),
      explode(nearest).as("cell"))
    if (maxCellSize <= 0) assigned0
    else {
      val wc = Window.partitionBy(col("cell")).orderBy(col("id").asc)
      assigned0.withColumn("_rn", row_number().over(wc))
        .filter(col("_rn") <= maxCellSize).drop("_rn")
    }
  }

  /** Entries (per-cell medoid-ish points) for the given assignment. */
  private def entriesOf(
      assigned: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "_cv")
    val we = Window.partitionBy(col("cell"))
      .orderBy(col("_cos").desc, col("id").asc)
    assigned.join(broadcast(cdf), Seq("cell"))
      .withColumn("_cos", Ann.dot(col("_v"), col("_cv")) / col("_n"))
      .withColumn("_rk", row_number().over(we))
      .filter(col("_rk") === 1)
      .select(col("cell"), col("id").as("entry_id"))
  }

  /** Persist the graph index beside the IVF layout: centroids,
    * vectors (+ `ids.parquet` ingestion ledger), per-cell DIRECTED
    * edge lists partitioned by cell, entries. [[searchIndex]]
    * symmetrizes at load (dedup + reverse union — exactly [[build]]'s
    * final step, so a loaded search equals a fresh one). The
    * cell-partitioned layout is what makes [[appendToIndex]] a
    * partial rebuild instead of build-from-scratch.
    */
  def writeIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      centroids: Array[Array[Double]], m: Int = 6, replicas: Int = 2,
      maxCellSize: Long = DefaultMaxCellSize): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    corpus.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("overwrite").parquet(s"$dir/ids.parquet")
    corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
      .write.mode("overwrite").parquet(s"$dir/vectors.parquet")
    val assigned = assignCapped(
      corpus, idCol, vecCol, centroids, replicas, maxCellSize)
      .localCheckpoint()
    directedCellKnn(assigned, m)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/edges.parquet")
    entriesOf(assigned, centroids)
      .write.mode("overwrite").parquet(s"$dir/entries.parquet")
    // the hier entry layer ([[searchIndexHier]]): derived from the
    // quantizer alone, so appends never invalidate it
    buildCellGraphScalable(spark, centroids, cellM = 4).toSeq
      .toDF("csrc", "cdst").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/cell_edges.parquet")
  }

  /** Append a batch to a persisted graph index by rebuilding ONLY the
    * affected cells (the round-10 verdict's documented lifecycle gap):
    * new vectors assign to their `replicas` nearest cells under the
    * EXISTING quantizer; each affected cell's directed kNN list
    * recomputes from its full membership (old + new, re-derived
    * deterministically from the stored vectors) and replaces just
    * that cell's partition (dynamic partition overwrite); entries
    * rewrite via the crash-safe IndexOps swap. Ledger-first replay
    * safety: ids append before data, and already-ledgered batches
    * drop whole. GraphAnnSpec pins append ≡ writeIndex-from-union
    * search equality. Quantizer drift is the caller's dial: appends
    * do NOT refit centroids — after enough growth, rebuild (the IVF
    * family's documented trade).
    */
  def appendToIndex(
      newRows: DataFrame, idCol: String, vecCol: String, dir: String,
      m: Int = 6, replicas: Int = 2,
      maxCellSize: Long = DefaultMaxCellSize): Unit = {
    val spark = newRows.sparkSession
    graft.operators.IndexOps.withMutationLock(spark, dir, "append-graph") {
      val ledger = spark.read.parquet(s"$dir/ids.parquet")
      val unseen = newRows
        .withColumn("_ga_id", col(idCol).cast("long"))
        .join(ledger.select(col("id").as("_ga_id")), Seq("_ga_id"), "left_anti")
        .drop("_ga_id")
      Widen.pinned(unseen) { fresh =>
        if (fresh.isEmpty) ()
        else {
          val centroids = Ivf.loadCentroids(spark, dir)
          // ledger FIRST (the family rule), then vectors
          fresh.select(col(idCol).cast("long").as("id")).distinct()
            .write.mode("append").parquet(s"$dir/ids.parquet")
          fresh.select(col(idCol).cast("long").as("id"),
            transform(col(vecCol), x => x.cast("double")).as("vec"))
            .write.mode("append").parquet(s"$dir/vectors.parquet")
          val all = spark.read.parquet(s"$dir/vectors.parquet")
          val assignedAll = assignCapped(
            all, "id", "vec", centroids, replicas, maxCellSize)
            .localCheckpoint()
          val affected = assignCapped(
            fresh, idCol, vecCol, centroids, replicas, maxCellSize)
            .select(col("cell")).distinct()
          val members = assignedAll.join(broadcast(affected), Seq("cell"))
          directedCellKnn(members, m)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(s"$dir/edges.parquet")
          graft.operators.IndexOps.swapDataset(spark, dir, "entries.parquet") {
            (live, freshPath) =>
              val keep = spark.read.parquet(live)
                .join(broadcast(affected), Seq("cell"), "left_anti")
              keep.unionByName(
                entriesOf(members, centroids))
                .write.mode("overwrite").parquet(freshPath)
          }
        }
      }
    }
  }

  /** A persisted index's quantizer, vectors, edges and entries. The
    * stored per-cell directed lists dedup + symmetrize at load, as
    * [[build]]'s final step does. The index-sized edges and entries are
    * checkpointed once (every walk hop consumes `edges`; uncut, the
    * symmetrize+distinct re-runs per hop); corpus-sized `vectors` stays
    * a parquet scan, which the narrow per-hop joins read.
    */
  private def loadIndex(spark: SparkSession, dir: String)
      : (Array[Array[Double]], DataFrame, DataFrame, DataFrame) = {
    val centroids = Ivf.loadCentroids(spark, dir)
    val vectors = spark.read.parquet(s"$dir/vectors.parquet")
    val directed = spark.read.parquet(s"$dir/edges.parquet")
      .select(col("src"), col("dst")).distinct()
    val edges = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    (centroids, vectors, edges, spark.read.parquet(s"$dir/entries.parquet").localCheckpoint())
  }

  /** Search a persisted graph index (no retraining/rebuild); results
    * equal a fresh build+search.
    */
  def searchIndex(
      spark: SparkSession, dir: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int = 1, hops: Int = 3, beam: Int = 8): DataFrame = {
    val (centroids, vectors, edges, entries) = loadIndex(spark, dir)
    searchTopK(vectors, "id", "vec", queries, qidCol, qvecCol,
      centroids, edges, entries, k, nprobe, hops, beam)
  }

  /** [[searchTopKHier]] served from a persisted index: entry cells
    * come from the stored cell-layer graph (`cell_edges.parquet`,
    * written by [[writeIndex]]); pre-cell-layer indexes rebuild it on
    * the fly from the stored centroids (cheap — nlist-sized). Results
    * equal a fresh build + hier search (spec-pinned).
    */
  def searchIndexHier(
      spark: SparkSession, dir: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, entryProbe: Int = 4, cellHops: Int = 4, cellBeam: Int = 4,
      hops: Int = 3, beam: Int = 8): DataFrame = {
    val (centroids, vectors, edges, entries) = loadIndex(spark, dir)
    val cePath = new org.apache.hadoop.fs.Path(s"$dir/cell_edges.parquet")
    val hasCe = cePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(cePath)
    val cellEdges: Array[(Int, Int)] =
      if (hasCe) spark.read.parquet(cePath.toString)
        .select(col("csrc").cast("int"), col("cdst").cast("int"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
      else buildCellGraphScalable(spark, centroids, cellM = 4)
    searchTopKHier(vectors, "id", "vec", queries, qidCol, qvecCol,
      centroids, edges, entries, cellEdges,
      k, entryProbe, cellHops, cellBeam, hops, beam)
  }
}
