package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{IndexOps, Widen}

/** Incremental anchor-text/link index (round-10 verdict item 8): q140
  * recomputes per-dst-host anchor aggregates from scratch every run;
  * a crawler ingests batches forever and must update anchors WITHOUT
  * rescanning history. The index persists the doc-reduced intermediate
  * — one row per (doc, dst_host, anchor) with its in-doc link count —
  * which is exactly the finest grain every q140 output column is
  * mergeable from: `n_links` = Σn, `n_docs` = distinct ids,
  * `n_anchors`/modal anchor from per-(host, anchor) sums. A nav bar
  * with 500 identical links collapses to one stored row.
  *
  * Lifecycle = the family discipline ([[graft.textops.CdcChunker]]'s
  * chunk index, [[NearDup]]'s minhash index): `dir/ids.parquet` is the
  * doc ingestion ledger (ledger-first append under the IndexOps
  * mutation lock, so replayed batches are no-ops);
  * `dir/links.parquet` holds the reduced rows keyed by doc id, so
  * re-fetched docs tombstone by id ([[IndexOps.removeFromIndex]]) and
  * [[compact]] rewrites both datasets via the crash-safe `.bak` swap.
  * Probes ([[aggregates]]) honor tombstones from the next read on.
  * Tombstones suppress an id EVERYWHERE until [[compact]] applies and
  * clears them (the IndexOps contract), so the re-fetch lifecycle is
  * remove → compact → append-the-fresh-fetch; the append-side
  * anti-join reads the ledger minus tombstones so the post-compact
  * re-ingest is accepted.
  *
  * 100 TB shape: append cost is O(batch) (one reduce + two appends —
  * history is never read); the probe aggregations hash-shuffle
  * already-reduced small-key rows with map-side combine, and the
  * modal-anchor window runs over per-(host, anchor) sums — bounded by
  * distinct anchors per host, never link count (the q140 argument).
  */
object AnchorIndex {

  private def idsPath(dir: String) = s"$dir/ids.parquet"
  private def linksPath(dir: String) = s"$dir/links.parquet"

  /** The doc-reduced stored grain: (id, dst_host, anchor, n). */
  private def reduced(links: DataFrame, idCol: String): DataFrame =
    links.groupBy(col(idCol).cast("long").as("id"),
        col("dst_host"), col("anchor"))
      .agg(count(lit(1)).as("n"))

  /** Create the index from an initial link table (the
    * [[LinkExtract.anchorTexts]] shape: idCol, dst_host, anchor).
    */
  def build(links: DataFrame, idCol: String, dir: String): Unit = {
    links.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("overwrite").parquet(idsPath(dir))
    reduced(links, idCol).write.mode("overwrite").parquet(linksPath(dir))
  }

  /** Ingest a batch: docs already in the ledger (and not tombstoned)
    * drop whole — the at-least-once replay contract; ledger ids
    * FIRST, then the reduced rows.
    */
  def append(links: DataFrame, idCol: String, dir: String): Unit =
    IndexOps.withMutationLock(links.sparkSession, dir, "append-anchors") {
      val spark = links.sparkSession
      val ledger = IndexOps.dropTombstoned(
        spark, dir, spark.read.parquet(idsPath(dir)), "id")
      val unseen = links
        .withColumn("_ai_id", col(idCol).cast("long"))
        .join(ledger.select(col("id").as("_ai_id")), Seq("_ai_id"), "left_anti")
        .drop("_ai_id")
      Widen.pinned(unseen) { fresh =>
        fresh.select(col(idCol).cast("long").as("id")).distinct()
          .write.mode("append").parquet(idsPath(dir))
        reduced(fresh, idCol).write.mode("append").parquet(linksPath(dir))
      }
    }

  /** Tombstone re-fetched/retracted docs — O(batch), honored by every
    * probe and by the append anti-join from the next read on.
    */
  def remove(ids: DataFrame, idCol: String, dir: String): Unit =
    IndexOps.removeFromIndex(ids, idCol, dir)

  /** Apply tombstones to both datasets and clear them (crash-safe
    * `.bak` swap; re-running heals).
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 4): Unit =
    IndexOps.compactIndex(spark, dir,
      Seq(("ids.parquet", "id"), ("links.parquet", "id")), targetFiles)

  /** The q140 aggregate table over everything live in the index —
    * (dst_host, n_links, n_docs, n_anchors, top_anchor,
    * top_anchor_n), equal to [[LinkExtract.aggregateAnchors]] over
    * the union of every ingested batch (AnchorIndexSpec pins it).
    */
  def aggregates(spark: SparkSession, dir: String): DataFrame = {
    val rows = IndexOps.dropTombstoned(
      spark, dir, spark.read.parquet(linksPath(dir)), "id")
    val perHost = rows.groupBy(col("dst_host")).agg(
      sum(col("n")).as("n_links"),
      countDistinct(col("id")).as("n_docs"),
      countDistinct(when(col("anchor") =!= "", col("anchor"))).as("n_anchors"))
    val perAnchor = rows.filter(col("anchor") =!= "")
      .groupBy(col("dst_host"), col("anchor"))
      .agg(sum(col("n")).as("_ax_c"))
    val w = Window.partitionBy(col("dst_host"))
      .orderBy(col("_ax_c").desc, col("anchor").asc)
    val top = perAnchor.withColumn("_ax_rn", row_number().over(w))
      .filter(col("_ax_rn") === 1)
      .select(col("dst_host"), col("anchor").as("top_anchor"),
        col("_ax_c").as("top_anchor_n"))
    perHost.join(top, Seq("dst_host"), "left")
  }
}
