package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic exact deduplication (the D1 shape, SURVEY §2.8, generalized
  * for any table): a row is dropped iff it is a non-first occurrence of
  * its key (in `orderCol` order) AND its key group spans more than one
  * distinct `sourceCol` value. With `crossSourceOnly=false` it degrades
  * to plain keep-first-per-key dedup (the classic exact-dedup of a
  * training-data pipeline).
  *
  * Scale: single hash-shuffle and one sort on the key; the source test
  * is a min/max over the key group (`collect_set`, bounded by the
  * distinct-source count, only for non-orderable source types). For
  * 100 TB corpora prefer hashing wide keys first
  * (`sha2(concat_ws(...))`) so the shuffle rows stay narrow — see
  * [[keyHash]].
  */
object Dedup {

  def keyHash(keyCols: Seq[Column]): Column =
    sha2(concat_ws("", keyCols.map(_.cast("string")): _*), 256)

  def exact(
      df: DataFrame,
      keyCols: Seq[Column],
      orderCol: Column,
      sourceCol: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(orderCol)
    val rn = row_number().over(w)
    // the single-source test shares row_number's partition and order
    // (its own full frame), so one sort serves both: min <=> max equals
    // size(collect_set) <= 1, nulls included (all-null groups pass both)
    val group = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val keep = sourceCol match {
      case Some(src) if RowOrdering.isOrderable(df.select(src).schema.head.dataType) =>
        rn === 1 || (min(src).over(group) <=> max(src).over(group))
      case Some(src) => rn === 1 || size(collect_set(src).over(group)) <= 1
      case None => rn === 1
    }
    df.withColumn("_keep", keep).filter(col("_keep")).drop("_keep")
  }

  /** Connected components over a near-dup pair graph — the clustering
    * step that turns pairwise near-dup evidence (minhash/simhash/
    * winnowing/cosine pairs) into droppable duplicate GROUPS. Returns
    * one row per vertex: (id, component), component = the smallest id
    * reachable through the (undirected) edges.
    *
    * Iterative min-label propagation WITH pointer jumping: each round a
    * vertex adopts the minimum label among itself and its neighbors,
    * then labels compress one level through the label graph
    * (`label := label(label)`), so convergence is O(log longest-path)
    * rounds, not O(longest-path) — maxIter=50 covers paths of length
    * ~2^50. Each round is two shuffle-joins on the EDGE list / label
    * frame; [[Widen.iterate]] checkpoints each round's labels (which
    * truncates the growing lineage), releases the round they replace,
    * and stops the loop at the first round that changes nothing. If
    * the graph somehow fails to converge inside maxIter the call FAILS
    * (an unconverged labeling under-merges components, which
    * dropNearDups would silently turn into under-dropped duplicates).
    * The symmetric edge set is pinned for the call and released when
    * it returns; the returned frame reads only the last round.
    */
  def connectedComponents(
      vertices: DataFrame,
      idCol: String,
      edges: DataFrame, // columns id_a, id_b
      maxIter: Int = 50): DataFrame = {
    val symmetric = edges.select(col("id_a"), col("id_b"))
      .union(edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct()
    Widen.pinned(symmetric) { sym =>
      // Scale-adaptive small-graph path (opt guide §1.2 "choose the
      // distributed algorithm"): when [[Widen.collectSmall]] admits the
      // materialized edge set (its id_a < id_b half; sym is symmetric)
      // and the vertex ids are integral too, a driver-side union-find
      // gives the identical min-reachable-id labeling in one pass and ONE
      // broadcast join back, instead of >= 2 label-propagation rounds of
      // 2 shuffle joins + checkpoint + count each. Otherwise (the 100 TB
      // near-dup graph) the loop below runs unchanged.
      val local =
        if (!Widen.integralIds(vertices, idCol)) None
        else Widen.collectSmall(sym.filter(col("id_a") < col("id_b")), "id_a", "id_b")
      local match {
        case None => labelPropagation(vertices, idCol, sym, maxIter)
        case Some(rows) =>
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
            var c = x
            while (parent.getOrDefault(c, c) != c) {
              val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
            }
            r
          }
          rows.foreach { row =>
            val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
            if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
          }
          val spark = vertices.sparkSession
          import spark.implicits._
          val mapped = parent.keySet.asScala.toSeq.map(k => (k, find(k)))
            .toDF("_cc_id", "_cc_component")
          val idT = vertices.schema(idCol).dataType
          vertices.select(col(idCol).as("id"))
            .join(broadcast(mapped), col("id").cast("long") === col("_cc_id"), "left")
            .select(col("id"),
              coalesce(col("_cc_component").cast(idT), col("id")).as("component"))
      }
    }
  }

  /** [[connectedComponents]]' distributed route over the symmetric edges. */
  private def labelPropagation(
      vertices: DataFrame, idCol: String, sym: DataFrame, maxIter: Int): DataFrame = {
    def round(state: DataFrame): DataFrame = {
      val labels = state.drop("_changed")
      val nbrMin = sym
        .join(labels, sym("id_a") === labels("id"))
        .groupBy(sym("id_b").as("id"))
        .agg(min(col("component")).as("_nbr_min"))
      val prop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("_old"),
          least(col("component"), coalesce(col("_nbr_min"), col("component"))).as("component"))
      // pointer jump: component := label(component) — labels are vertex
      // ids, so the label frame doubles as the lookup table
      val compOf = prop.select(col("id").as("component"), col("component").as("_cc"))
      prop
        .join(compOf, Seq("component"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("_cc"), col("component"))).as("component"),
          col("_old"))
        .withColumn("_changed", col("component") < col("_old"))
        .drop("_old")
    }
    Widen.iterate(
      vertices.select(col(idCol).as("id"), col(idCol).as("component")),
      Seq.fill(maxIter)(round _),
      Some((_.filter(col("_changed")).count() == 0,
        s"connectedComponents did not converge in $maxIter rounds — " +
          "an unconverged labeling under-merges components; raise maxIter")))
      .drop("_changed")
  }

  /** Near-dup drop: keep, per component of the pair graph, only the
    * smallest-id row. Rows absent from `pairs` form singleton
    * components and always survive.
    */
  def dropNearDups(
      df: DataFrame, idCol: String, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val comps = connectedComponents(df.select(col(idCol)), idCol, pairs, maxIter)
    df.join(comps.filter(col("id") === col("component")).select(col("id").as(idCol)), Seq(idCol))
  }

  /** Near-dup drop keeping the BEST row per component — the shape a
    * training-data pipeline actually wants: among near-duplicate
    * documents keep the highest-quality one, not the arbitrary
    * smallest-id one. Ties on score resolve to the smallest id, so the
    * kept set is deterministic across runs and partitionings. Rows
    * absent from `pairs` form singleton components and always survive.
    *
    * Scale shape: the component frame is one row per vertex; the join
    * back and the per-component top-1 window both shuffle on
    * `component` — same price as [[dropNearDups]] plus one window.
    */
  def dropNearDupsBy(
      df: DataFrame, idCol: String, scoreCol: Column, pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // helper columns are prefixed so a caller's own `component` column
    // neither collides (AMBIGUOUS_REFERENCE) nor gets dropped
    val collisions = Seq("_nd_component", "_nd_rk").filter(df.columns.contains)
    require(collisions.isEmpty,
      s"dropNearDupsBy: input already has ${collisions.mkString(", ")} — rename first")
    val comps = connectedComponents(df.select(col(idCol)), idCol, pairs, maxIter)
      .select(col("id").as(idCol), col("component").as("_nd_component"))
    val w = Window.partitionBy(col("_nd_component"))
      .orderBy(scoreCol.desc, col(idCol).asc)
    df.join(comps, Seq(idCol))
      .withColumn("_nd_rk", row_number().over(w))
      .filter(col("_nd_rk") === 1)
      .drop("_nd_rk", "_nd_component")
  }
}
