package graft.session

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** W1 — time-gap sessionization + A1 request_count (SURVEY §2.6, §2.4).
  *
  * Reference `_cluster` (dataframe.py:604-658): per `(source, ip)` in
  * epoch-second order, a row starts a new session iff the gap to the
  * previous row is `>= threshold` (strictly `delta < X` stays in the same
  * session — dataframe.py:633). The global `cluster` id is a dense
  * 0-based id in first-appearance order of `(source, ip, localId)` after
  * the sort — i.e. lexicographic `(source, ip, localId)` order
  * (pandas factorize at dataframe.py:639).
  *
  * Scale design: the per-group lag/cumsum is one hash-shuffle on
  * `(source, ip)`. The global dense id is NOT computed with a
  * single-partition window over the rows (that would serialize the
  * whole frame through one task); see [[withGlobalIds]] for the
  * base-offset scheme that gets it from a one-row-per-(source, ip)
  * running total instead. AQE handles skewed hot IPs.
  */
object Sessionizer {

  val DefaultThreshold = 60L

  /** Adds `cluster` (global dense session id). Requires columns
    * `source`, `ip`, `utc_timestamp`. Under the byte guard this call
    * runs one job ([[withGlobalIds]]).
    */
  def withClusters(df: DataFrame, threshold: Long = DefaultThreshold): DataFrame = {
    // lag and cumsum both order by the one `_epoch` column: one sort
    val grp = Window.partitionBy(col("source"), col("ip")).orderBy(col("_epoch"))

    val delta = col("_epoch") - lag(col("_epoch"), 1).over(grp)
    val newSession = when(delta.isNull || delta < threshold, 0L).otherwise(1L)
    val withLocal = df.withColumn("_epoch", col("utc_timestamp").cast(LongType))
      .withColumn("_local_id",
        sum(newSession).over(grp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    withGlobalIds(withLocal).drop("_local_id", "_epoch")
  }

  /** Global dense cluster ids in (source, ip, localId) lexicographic
    * order (= the reference's factorize numbering after its sort).
    *
    * `_local_id` is ALREADY dense 0..n-1 within each (source, ip)
    * group (it's a cumulative sum of new-session flags starting at 0),
    * so `cluster = base(source, ip) + _local_id`, where base is the
    * running total of session counts over groups in (source, ip)
    * order. That replaces the earlier zipWithIndex-over-distinct-keys
    * formulation with plan-only operators:
    *
    *  - no RDD barrier (stays whole-stage-codegen'd, resumable by AQE),
    *  - no collect of the key space to the driver,
    *  - the groups aggregate reuses the window's (source, ip) hash
    *    partitioning (no new exchange of its own), and the join back is
    *    on the same key.
    *
    * `withLocal` feeds both the groups branch and the join back, and
    * column pruning gives the groups branch a narrower (source, ip)
    * exchange than the join's full-row one, so exchange reuse cannot
    * merge them. It therefore goes through [[graft.operators.Widen.materialize]]
    * once: under the byte guard this call runs one job (the lag/cumsum
    * window and everything under it, e.g. normalize's dedup), and both
    * branches read that checkpoint. Above the guard it stays lazy, and
    * each branch recomputes the subtree.
    *
    * The running total itself nests two levels so no task ever sees the
    * full (source, ip) key space (10⁸–10⁹ pairs at the 100 TB design
    * point):
    *
    *  1. per-source running total over IPs — a window PARTITIONED on
    *     `source` (parallel across sources; task size = IPs within one
    *     source);
    *  2. per-source totals — ONE ROW PER SOURCE (bounded by the number
    *     of distinct log inputs, not by IP cardinality) — get the
    *     cross-source running total. That frame is pinned to an explicit
    *     single-partition spec (`partitionBy(lit(0))`): physically one
    *     task over #sources rows, declared explicitly rather than the
    *     unpartitioned default (which warns and, at level 1's
    *     cardinality, would be a real single-task sort).
    *
    * base(source, ip) = src_base(source) + ip_base(source, ip).
    */
  private def withGlobalIds(local: DataFrame): DataFrame = {
    val withLocal = graft.operators.Widen.materialize(local)
    val groups = withLocal
      .groupBy(col("source"), col("ip"))
      .agg((max(col("_local_id")) + 1).as("_n_sessions"))

    val inSource = Window.partitionBy(col("source")).orderBy(col("ip"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ipBase = coalesce(sum(col("_n_sessions")).over(inSource), lit(0L))

    // Constant-0 partition key, written non-foldably: a bare lit(0) (or
    // anything derived from `source`, which is a per-file literal that
    // FoldablePropagation folds on single-input runs) gets pruned back to
    // an unpartitioned (warning-emitting) window by Spark 4's
    // EliminateWindowPartitions. Deriving 0 from the AGGREGATE output
    // `_src_total` is fold-proof — an aggregate result is never constant
    // to Catalyst — so the EXPLICIT single hash partition over the
    // #sources-row frame survives optimization.
    val onePartition = coalesce(col("_src_total") * lit(0L), lit(0L))
    val overSources = Window.partitionBy(onePartition).orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sourceBases = groups
      .groupBy(col("source")).agg(sum(col("_n_sessions")).as("_src_total"))
      .withColumn("_src_base", coalesce(sum(col("_src_total")).over(overSources), lit(0L)))
      .select(col("source"), col("_src_base"))

    val offsets = groups
      .withColumn("_ip_base", ipBase)
      .join(sourceBases, Seq("source"))
      .withColumn("_base", col("_src_base") + col("_ip_base"))
      .select(col("source"), col("ip"), col("_base"))

    // No broadcast hint: distinct (source, ip) count is usually tiny but
    // unbounded at the 100 TB design point — AQE broadcasts when the
    // measured size allows, else degrades to a shuffled join (never a
    // driver OOM).
    withLocal
      .join(offsets, Seq("source", "ip"))
      .withColumn("cluster", col("_base") + col("_local_id"))
      .drop("_base")
  }

  /** Skew-proof two-phase variant of [[withClusters]] — identical output
    * (SessionizerChunkedSpec proves equality), different physical shape.
    *
    * [[withClusters]] sorts each whole `(source, ip)` group in one task;
    * one hot IP with billions of rows serializes there. Here the
    * per-task unit is a `(source, ip, epoch DIV chunkSeconds)` time
    * chunk:
    *
    *  1. lag/cumsum sessionize WITHIN each chunk (bounded work:
    *     chunk duration × peak rate);
    *  2. per-chunk summaries (first/last epoch, session count) — a tiny
    *     frame — get a window scan per (source, ip) over CHUNKS to
    *     decide boundary merges (gap < threshold joins the first session
    *     of chunk k to the last of chunk k-1) and running id offsets;
    *  3. offsets broadcast-join back; dense global numbering as in
    *     [[withClusters]].
    *
    * Chunk boundaries can only ever split a session, never join two, and
    * step 2 restores exactly the splits whose boundary gap is below the
    * threshold, so the grouping equals the single-scan result.
    */
  def withClustersChunked(
      df: DataFrame,
      threshold: Long = DefaultThreshold,
      chunkSeconds: Long = 3600L): DataFrame = {
    require(chunkSeconds >= threshold,
      "chunk must be at least the session gap or boundary merges could chain")
    val epoch = col("utc_timestamp").cast(LongType)
    val chunk = (epoch / chunkSeconds).cast(LongType)
    val inChunk = Window.partitionBy(col("source"), col("ip"), col("_chunk")).orderBy(col("_epoch"))

    val delta = col("_epoch") - lag(col("_epoch"), 1).over(inChunk)
    val newSession = when(delta.isNull || delta < threshold, 0L).otherwise(1L)
    // widenBy: pin the per-chunk window's parallelism on ITS OWN keys —
    // at bench bytes AQE coalesces the window's exchange to one task
    // (two ~1.5 s serialized window stages, the round-16 ProfileOne
    // finding); a user-specified hash repartition on the same keys is
    // reused by the window (no second exchange) and is the identity
    // above the byte guard, so the 100 TB path keeps AQE's sizing
    val local = graft.operators.Widen.widenBy(
      df.withColumn("_epoch", epoch).withColumn("_chunk", chunk),
      col("source"), col("ip"), col("_chunk"))
      .withColumn("_cls",
        sum(newSession).over(inChunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // chunk summaries: tiny relative to the data
    val summaries = local.groupBy(col("source"), col("ip"), col("_chunk"))
      .agg(min(col("_epoch")).as("_first"), max(col("_epoch")).as("_last"),
        (max(col("_cls")) + 1).as("_n"))
    val overChunks = Window.partitionBy(col("source"), col("ip")).orderBy(col("_chunk"))
    val merged = when(
      col("_first") - lag(col("_last"), 1).over(overChunks) < threshold, 1L)
      .otherwise(0L)
    val offsets = summaries
      .withColumn("_m", merged)
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          overChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          - sum(col("_m")).over(
            overChunks.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("source"), col("ip"), col("_chunk"), col("_offset"))

    val withLocal = local
      .join(offsets, Seq("source", "ip", "_chunk"))
      .withColumn("_local_id", col("_cls") + col("_offset"))
      .drop("_cls", "_chunk", "_offset")

    withGlobalIds(withLocal).drop("_local_id", "_epoch")
  }

  /** Orders rows the way the reference leaves them after clustering
    * (O2: by session start time, then event time — dataframe.py:643-646).
    */
  def clusterOrdered(df: DataFrame): DataFrame = {
    val epoch = col("utc_timestamp").cast(LongType)
    val w = Window.partitionBy(col("cluster"))
    df.withColumn("_cstart", min(epoch).over(w))
      .orderBy(col("_cstart"), epoch)
      .drop("_cstart")
  }

  /** A1/J1 — per-(source, ip, cluster, method, request_uri) repeat count
    * (reference dataframe.py:70-89). Implemented as a window count, which
    * avoids the reference's groupBy + merge-back self-join entirely.
    */
  def withRequestCount(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(
      col("source"), col("ip"), col("cluster"), col("method"), col("request_uri"))
    df.withColumn("request_count", count(lit(1)).over(w))
  }

}
