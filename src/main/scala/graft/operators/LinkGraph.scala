package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-graph centrality (PageRank) over a corpus-scale edge list —
  * the web-graph quality signal curation pipelines weight documents by
  * (hub/spam structure is invisible to per-document text features).
  *
  * All-integer fixed-point arithmetic, the [[graft.vector.Ivf.RefineScale]]
  * discipline applied to an ITERATIVE distributed algorithm: double
  * power-iteration sums would be partition-order dependent, so ranks
  * are `Scale`-scaled longs, per-edge contributions use exact integer
  * floor division, and per-node sums accumulate in decimal(38,0).
  * The result is bit-reproducible under any partitioning — which is
  * also what lets a DuckDB oracle recompute the EXACT ranks.
  *
  * Semantics per iteration (damping d = dampNum/dampDen):
  *   r'(v) = floor(Scale*(dampDen-dampNum)/dampDen)
  *           + sum over in-edges (u,v) of floor(r(u)*dampNum / (dampDen*deg(u)))
  * Parallel edges count twice (in deg and in contribution); self-loops
  * allowed; a dangling node (outdeg 0) simply leaks its damped mass —
  * no uniform redistribution, because that term is a full broadcast of
  * a global scalar per iteration and the LEAKED-mass variant is the
  * standard practical choice for web-scale graphs (documented, and the
  * oracle states the same recurrence).
  *
  * Scale shape: `deg` joins `edges` ONCE up front (one shuffle, the
  * result pinned for the call by [[Widen.pinned]]); each iteration is
  * one ranks-to-edges equi-join on src plus one (dst) hash aggregation
  * with map-side partial combine — only (dst, contrib) pairs cross the
  * second exchange. On a real cluster the checkpointed edge frame keeps
  * its (src) partitioning across all iterations, so only the (small)
  * rank frame moves. [[Widen.iterate]] checkpoints each iteration's
  * ranks, which truncates the lineage, and releases the iteration they
  * replace; the returned frame reads only the last one.
  *
  * Overflow: contributions avoid `r*dampNum` (which overflows a long
  * once total mass nears 2^63/dampNum — reachable at ~1e12 nodes via a
  * hub that concentrates the corpus' mass) with the exact identity
  *   floor(r*c/b) = (r DIV b)*c + ((r MOD b)*c) DIV b
  * whose intermediates stay below max(r, b*c). The oracle computes the
  * plain form — DuckDB's 128-bit intermediates make the two equal.
  */
object LinkGraph {

  /** Rank fixed-point unit: rank 1.0 == 2^20. */
  val Scale: Long = 1L << 20

  /** `iters` exact power iterations; returns one row per node:
    * (idCol, rank) with rank in [[Scale]]-scaled fixed point.
    *
    * @param nodes one row per vertex, column `idCol` (long)
    * @param edges columns `src`, `dst` (longs); rows outside `nodes`'
    *              id set contribute nothing on the dst side and must
    *              not appear on the src side (deg is edge-derived)
    */
  def pageRank(
      nodes: DataFrame, idCol: String, edges: DataFrame,
      iters: Int, dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    rankLoop(nodes, idCol, edges, iters, dampNum, dampDen, seeds = None)

  /** Personalized (TrustRank-style) variant: the teleport mass lands
    * ONLY on `seeds` (one `idCol` column — the hand-vetted trusted
    * set), so rank flows outward from the seeds through links and a
    * page's score measures its link-distance-discounted reachability
    * from trusted ground (Gyöngyi et al. 2004, "Combating Web Spam
    * with TrustRank"). Identical recurrence, with init and the
    * per-iteration base term masked to seeds:
    *   r0(v) = Scale·[v ∈ S];  base(v) = floor(Scale·(1-d))·[v ∈ S].
    * Non-seed nodes reachable only via links accumulate damped mass;
    * unreachable ones converge to 0. Same fixed-point arithmetic,
    * same exchanges (the seed flag is one extra broadcast-friendly
    * join at init, then rides the node frame).
    */
  def personalizedPageRank(
      nodes: DataFrame, idCol: String, edges: DataFrame, seeds: DataFrame,
      iters: Int, dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    rankLoop(nodes, idCol, edges, iters, dampNum, dampDen, Some(seeds))

  /** Per-node triangle counts over the UNDIRECTED simple graph induced
    * by `edges` (direction, duplicates, and self-loops dropped) — the
    * local clustering signal link-spam detection uses (spam farms are
    * triangle-dense, organic link neighborhoods are sparse).
    *
    * Degree-ordered orientation (the classic MapReduce triangle
    * recipe): each undirected edge orients toward the higher
    * (degree, id) endpoint, so every wedge is generated at its
    * LOWEST-degree vertex — the per-vertex wedge explosion is bounded
    * by the out-degree in the ORIENTED graph, which is O(sqrt(|E|))
    * for any graph, not the raw degree a celebrity hub would have.
    * One wedge self-join + one edge semi-join decide; each triangle is
    * found exactly once and credited to its three corners.
    *
    * Output: (id, n_triangles), one row per vertex WITH at least one
    * triangle (left-join against the node set for a dense frame).
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    // pinned: the small-graph probe collects it, and the distributed
    // path reads it twice (wedge orientation and closure probe)
    Widen.pinned(canonicalUndirected(edges))(triangleCountsFromUnd)

  /** Canonical undirected simple edge set (a < b, deduped, loops
    * dropped) — shared by [[triangleCounts]] and [[clusteringCoeff]].
    */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()

  private def triangleCountsFromUnd(und: DataFrame): DataFrame = {
    // Scale-adaptive small-graph path (guide §1.2): `und` arrives
    // checkpointed from both callers, so the bounded collect reads
    // materialized blocks. When [[Widen.collectSmall]] admits it, count
    // triangles on the driver with the SAME degree-ordered orientation
    // — identical (id, n_triangles) rows — instead of a checkpointed
    // orientation join + wedge self-join + semi-join + aggregation.
    val local = Widen.collectSmall(und, "a", "b")
    if (local.isDefined) {
      val rows = local.get
      val deg = new java.util.HashMap[Long, Long]()
      rows.foreach { r =>
        deg.merge(r.getLong(0), 1L, Long.box(_) + Long.box(_))
        deg.merge(r.getLong(1), 1L, Long.box(_) + Long.box(_))
        ()
      }
      def less(u: Long, w: Long): Boolean = {
        val du = deg.get(u); val dw = deg.get(w)
        du < dw || (du == dw && u < w)
      }
      val undSet = new java.util.HashSet[(Long, Long)](rows.length * 2)
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      rows.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        undSet.add((a, b))
        val (u, w) = if (less(a, b)) (a, b) else (b, a)
        adj.computeIfAbsent(u, _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += w
        ()
      }
      val tri = new java.util.HashMap[Long, Long]()
      adj.forEach { (u, ws) =>
        var i = 0
        while (i < ws.length) {
          var j = i + 1
          while (j < ws.length) {
            val (x, y) = (math.min(ws(i), ws(j)), math.max(ws(i), ws(j)))
            if (undSet.contains((x, y))) {
              tri.merge(u, 1L, Long.box(_) + Long.box(_))
              tri.merge(x, 1L, Long.box(_) + Long.box(_))
              tri.merge(y, 1L, Long.box(_) + Long.box(_))
            }
            j += 1
          }
          i += 1
        }
      }
      val spark = und.sparkSession
      import spark.implicits._
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](tri.size)
      tri.forEach((id, n) => out += ((id, n)))
      return out.toSeq.toDF("id", "n_triangles")
        .select(col("id").cast(und.schema("a").dataType).as("id"),
          col("n_triangles"))
    }
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    // orient (u -> w) iff (deg, id) of u < of w: each undirected edge
    // exactly once, wedges form at the small end
    Widen.pinned(sym
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "_da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "_db"), "b")
      .filter(col("_da") < col("_db") ||
        (col("_da") === col("_db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("w"))) { oriented =>
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
        .select(col("e1.u").as("u"), col("e1.w").as("x"), col("e2.w").as("y"))
      // the wedge (x, y) closes iff the oriented edge x->y or y->x exists;
      // orientation ordering guarantees it would be oriented x->y iff
      // (deg,id)(x) < (deg,id)(y) — but x < y here is by ID, so probe the
      // UNDIRECTED canonical form against `und`
      val closed = wedges.join(und,
        least(col("x"), col("y")) === und("a") &&
          greatest(col("x"), col("y")) === und("b"), "left_semi")
      // EAGER result (one aggregated row per triangle-corner vertex,
      // O(V) — tiny next to the wedge stream it summarizes): a lazy
      // return would read `oriented`'s blocks after the pin released
      // them. The returned frame's own blocks live exactly as long as
      // the caller holds the frame.
      closed
        .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint(true)
    }
  }

  /** Local clustering coefficient per node over the same undirected
    * simple graph as [[triangleCounts]]:
    * `coeff = 2·T(v) / (d(v)·(d(v)−1))`, emitted as a floor'd x10000
    * integer (the repo's integer-division oracle discipline — no float
    * division crosses engines). Nodes with degree < 2 score 0.
    * Output: (id, degree, n_triangles, coeff_x10000), one row per
    * vertex of the simple graph.
    */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    // pinned once, shared by the degree and triangle paths
    Widen.pinned(canonicalUndirected(edges)) { und =>
      val deg = und.select(col("a").as("id"))
        .union(und.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      val tri = triangleCountsFromUnd(und) // eager — safe to drop und after
      deg.join(tri, Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2,
            expr("(coalesce(n_triangles, 0L) * 20000) DIV (degree * (degree - 1))"))
            .otherwise(0L).as("coeff_x10000"))
        // EAGER output: a lazy return would read `und` after its release
        .localCheckpoint(true)
    }

  /** Incremental PageRank (round-10 verdict item 8): re-rank ONLY the
    * weakly-connected components touched by the snapshot delta, carry
    * every other node's rank forward unchanged — EXACT, not
    * approximate, because fixed-iteration PageRank decomposes over
    * weakly-connected components (mass never crosses them), and an
    * untouched component is node- and edge-identical to the previous
    * snapshot, so its fixed-point trajectory replays bit-for-bit.
    *
    * Dirty seeds = endpoints of the multiset edge diff plus the node
    * diff; the touched set is their undirected closure, discovered by
    * multi-source frontier expansion FROM THE SEEDS (per-hop cost ∝
    * touched-subgraph size, not the graph — on a src/dst-bucketed
    * edge store each hop is a pruned probe, and the rank iterations
    * then run on the touched subgraph only). A full-graph component
    * labeling is deliberately NOT computed. Output: (idCol, rank,
    * recomputed) — the flag pins which components actually re-ran
    * (the laziness contract the q137 oracle checks rule-for-rule).
    */
  def pageRankDelta(
      nodes: DataFrame, idCol: String, edges: DataFrame,
      prevNodes: DataFrame, prevEdges: DataFrame, prevRanks: DataFrame,
      iters: Int, dampNum: Long = 85, dampDen: Long = 100,
      maxHops: Int = 50,
      knownDeltaEdges: Option[DataFrame] = None): DataFrame = {
    val ids = nodes.select(col(idCol).as("id"))
    val unconverged = s"pageRankDelta: closure did not converge in $maxHops hops"
    // pinned for the call: the diff, the closure and the sub-graph's
    // rank loop read it; the returned frame reads only the checkpoints
    // of the closure and of the rank loop
    Widen.pinned(edges.select(col("src"), col("dst"))) { e =>
      // multiset-exact edge diff (parallel-edge multiplicity changes
      // change deg and contributions, so they MUST dirty their
      // endpoints). The diff is the one graph-linear pass left in the
      // delta path; a caller that already KNOWS its delta (a crawler's
      // change feed) passes it via knownDeltaEdges and skips even that.
      val deltaE = knownDeltaEdges.getOrElse {
        val prevE = prevEdges.select(col("src"), col("dst"))
        e.exceptAll(prevE).unionByName(prevE.exceptAll(e))
      }
      val dirty = deltaE.select(col("src").as("id"))
        .unionByName(deltaE.select(col("dst").as("id")))
        .unionByName(ids.exceptAll(prevNodes.select(col(idCol).as("id"))))
        .unionByName(prevNodes.select(col(idCol).as("id")).exceptAll(ids))
        .distinct()
      // undirected closure from the dirty seeds (removed nodes drop out
      // of the closure via the join against the NEW node set; their old
      // neighbors entered `dirty` through the removed edges).
      //
      // Scale-adaptive small-graph path (the rankLoop/triangle
      // discipline): when [[Widen.collectSmall]] admits the checkpointed
      // edges and the seeds, the SAME seeded BFS runs as a driver loop —
      // identical reached set — instead of up to maxHops rounds of
      // join+distinct+anti-join, each behind a checkpoint and a count
      // job. Otherwise the distributed closure below runs.
      val localReached: Option[DataFrame] = for {
        eRows <- Widen.collectSmall(e, "src", "dst")
        seedRows <- Widen.collectSmall(dirty.join(ids, Seq("id")).distinct(), "id")
      } yield {
        val adj = eRows.toSeq.flatMap { r =>
          Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0))
        }.groupMap(_._1)(_._2)
        var front = seedRows.map(_.getLong(0)).toList
        val seen = scala.collection.mutable.HashSet(front: _*)
        var hop0 = 0
        while (front.nonEmpty && hop0 < maxHops) {
          front = front.flatMap(u => adj.getOrElse(u, Nil).filter(seen.add))
          hop0 += 1
        }
        require(front.isEmpty, unconverged)
        val spark = nodes.sparkSession
        import spark.implicits._
        seen.toSeq.sorted.toDF("_prid")
          .select(col("_prid").cast(nodes.schema(idCol).dataType).as("id"))
      }
      val reached = localReached.getOrElse {
        // No distinct on undir: duplicate edges only re-propagate
        // already-reached ids (the per-hop frontier distinct bounds
        // growth) and the dedup shuffle would cost a full rank iteration
        Widen.pinned(e.unionByName(
            e.select(col("dst").as("src"), col("src").as("dst")))) { undir =>
          // one state per hop: every reached id, `_new` on the frontier
          // (the ids this hop added); the closure is done when a hop adds none
          def hop(state: DataFrame): DataFrame = {
            val frontier = state.filter(col("_new"))
            val fresh = undir.join(frontier, undir("src") === frontier("id"))
              .select(col("dst").as("id")).distinct()
              .join(state.select(col("id")), Seq("id"), "left_anti")
            state.select(col("id"), lit(false).as("_new"))
              .unionByName(fresh.select(col("id"), lit(true).as("_new")))
          }
          Widen.iterate(
            dirty.join(ids, Seq("id")).distinct().select(col("id"), lit(true).as("_new")),
            Seq.fill(maxHops)(hop _),
            Some((_.filter(col("_new")).count() == 0, unconverged)))
            .select(col("id"))
        }
      }
      val subEdges = e.join(reached.select(col("id").as("src")), Seq("src"))
      val freshRanks = pageRank(reached, "id", subEdges, iters, dampNum, dampDen)
        .select(col("id"), col("rank"), lit(true).as("recomputed"))
      val carried = ids.join(reached, Seq("id"), "left_anti")
        .join(prevRanks.select(col(idCol).as("id"), col("rank")), Seq("id"))
        .select(col("id"), col("rank"), lit(false).as("recomputed"))
      freshRanks.unionByName(carried)
        .select(col("id").as(idCol), col("rank"), col("recomputed"))
    }
  }

  private def rankLoop(
      nodes: DataFrame, idCol: String, edges: DataFrame,
      iters: Int, dampNum: Long, dampDen: Long,
      seeds: Option[DataFrame]): DataFrame = {
    require(iters >= 0, s"pageRank: iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"pageRank: damping $dampNum/$dampDen outside [0,1]")
    val base = Scale * (dampDen - dampNum) / dampDen

    // node frame with per-node init and base mass; the seed mask joins
    // ONCE here and is pinned across iterations
    val nodeFrame = seeds match {
      case None =>
        nodes.select(col(idCol).as("id"), lit(Scale).as("_r0"), lit(base).as("_base"))
      case Some(sd) =>
        // distinct: a duplicated seed id would multiply node rows
        // through the join (and then every downstream rank row)
        nodes.select(col(idCol).as("id"))
          .join(sd.select(col(idCol).as("id")).distinct()
              .withColumn("_isSeed", lit(true)),
            Seq("id"), "left")
          .select(col("id"),
            when(col("_isSeed"), Scale).otherwise(0L).as("_r0"),
            when(col("_isSeed"), base).otherwise(0L).as("_base"))
    }
    // deg joined in once: every iteration reuses this frame (and on a
    // cluster, its partitioning) without recomputing the aggregation
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
    val edgeFrame = edges.join(deg, "src")
      .select(col("src"), col("dst"), (lit(dampDen) * col("_deg")).as("_b"))

    // both pinned for the call: the returned frame is a driver Seq or
    // the loop's last checkpoint, and reads neither
    Widen.pinned(nodeFrame)(nodeBase => Widen.pinned(edgeFrame) { edgesDeg =>
      // Scale-adaptive small-graph path: nodeBase and edgesDeg are the
      // SAME materializations the distributed loop needs, so the
      // bounded collects read materialized blocks. When
      // [[Widen.collectSmall]] admits both, run the identical integer
      // recurrence in a driver loop — per-edge contribution term and
      // per-dst sum are exactly the distributed expressions (sums stay
      // far below 2^63 at bounded edge counts, where the distributed
      // path's decimal(38,0) guard matters only at ~1e12-node scale) —
      // instead of `iters` join+aggregate rounds with a checkpoint each.
      val local = for {
        ed <- Widen.collectSmall(edgesDeg, "src", "dst")
        nb <- Widen.collectSmall(nodeBase, "id")
      } yield {
        val r = new java.util.HashMap[Long, Long](nb.length * 2)
        nb.foreach { row => r.put(row.getLong(0), row.getLong(1)) }
        var it0 = 0
        while (it0 < iters) {
          val contribs = new java.util.HashMap[Long, Long](nb.length * 2)
          ed.foreach { row =>
            // inner-join semantics: srcs outside the node set contribute nothing
            if (r.containsKey(row.getLong(0))) {
              val rs: Long = r.get(row.getLong(0))
              val b = row.getLong(2)
              val c = (rs / b) * dampNum + ((rs % b) * dampNum) / b
              contribs.merge(row.getLong(1), c, Long.box(_) + Long.box(_))
            }
            ()
          }
          nb.foreach { row =>
            val id = row.getLong(0)
            r.put(id, row.getLong(2) + contribs.getOrDefault(id, 0L))
            ()
          }
          it0 += 1
        }
        val spark = nodeBase.sparkSession
        import spark.implicits._
        nb.map(row => (row.getLong(0), r.get(row.getLong(0)))).toSeq.toDF("_prid", "rank")
          .select(col("_prid").cast(nodes.schema(idCol).dataType).as(idCol), col("rank"))
      }
      def round(ranks: DataFrame): DataFrame = {
        val contribs = edgesDeg
          .join(ranks, edgesDeg("src") === ranks("id"))
          .select(col("dst"),
            expr(s"(r DIV _b) * $dampNum + ((r % _b) * $dampNum) DIV _b").as("_c"))
          .groupBy(col("dst"))
          .agg(sum(col("_c").cast(DecimalType(38, 0))).as("_s"))
        nodeBase.select(col("id"), col("_base"))
          .join(contribs, col("id") === col("dst"), "left")
          .select(col("id"),
            (col("_base") + coalesce(col("_s"), lit(0)).cast("long")).as("r"))
      }
      local.getOrElse(
        Widen.iterate(nodeBase.select(col("id"), col("_r0").as("r")), Seq.fill(iters)(round _))
          .select(col("id").as(idCol), col("r").as("rank")))
    })
  }
}
