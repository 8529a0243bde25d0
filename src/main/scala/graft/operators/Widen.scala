package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Parallelism floor for CPU-heavy NARROW passes (opt guide §2.6 —
  * idle capacity; the round-16 ProfileOne finding).
  *
  * The bench tables are single parquet files, so a scan plans ONE
  * partition and every narrow chain above it — text cleaning, lang-id,
  * fingerprint hashing, dense scoring — runs serialized on one core
  * while the other 31 idle (q65's stage-4 job: 4.9 s wall, 3.8 s cpu,
  * 1 task). AQE cannot help: it only coalesces, never widens, and its
  * byte estimates undercount rows that inflate in the projection (the
  * documented denseFrom trap). `widen` inserts one explicit
  * round-robin repartition to the target width — user-specified
  * partitioning, so AQE keeps it — gated ONLY by the plan-stats byte
  * guard below: a SMALL frame (<= `spark.graft.widen.maxBytes`) is
  * repartitioned to exactly `target` partitions whatever its current
  * width (a clamp, not a floor — a small frame already wider than the
  * target is reshuffled down to it, which is harmless at guard-sized
  * bytes). Current partition count is deliberately NOT consulted:
  * asking an unexecuted AQE frame for it forces hidden materialization
  * (see the guard comment in [[widen]]).
  *
  * 100 TB shape: a real corpus scan reports file-scale plan bytes, so
  * the byte guard fails and widen is the identity — no payload shuffle
  * is ever added at scale (a stats UNDERestimate on a big frame would
  * add one 8-way shuffle; scans report file bytes, so the risky
  * estimates sit above exchanges where widen is not applied).
  * The target derives from the
  * runtime (`defaultParallelism` = total cores on a cluster, the
  * local[n] core count under the bench contract), overridable via
  * `spark.graft.widen.parallelism`; <= 1 disables.
  *
  * Content-safe by construction: round-robin repartition reorders rows
  * but changes no values, and Spark's sort-before-repartition (on by
  * default, SPARK-23207) keeps the row→partition assignment
  * deterministic under retries. Callers must still be
  * partition-agnostic — do NOT widen above `spark_partition_id`,
  * `monotonically_increasing_id`, seeded `rand`, or input_file_name
  * consumers (the operators here already ban those as shuffle keys).
  *
  * The materialization family lives here too: [[materialize]] (a
  * checkpoint under the byte guard, for a frame with two or more
  * consumers, where it only saves recomputation), [[pinned]] (an
  * unguarded checkpoint released after a body whose result does not
  * read it) and [[iterate]] (a checkpointed loop that releases each
  * superseded round and keeps only the one it returns).
  */
object Widen {
  /** Key-preserving widen: hash-repartition to the target width on
    * `keys` so a window/aggregation partitioned by those keys reuses
    * the exchange (no second shuffle) instead of letting AQE coalesce
    * its own exchange to one task at bench-scale bytes. Same byte
    * guard and target as [[widen]]; identity above the guard, so the
    * 100 TB path keeps AQE's sizing of the operator's own exchange.
    */
  def widenBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = targetOf(df)
    if (target <= 1) df
    else if (isSmall(df)) df.repartition(target, keys: _*)
    else df
  }
  /** Default width cap. Full-core fan-out measured NET NEGATIVE at
    * bench scale: the heavy text expressions pay ~150 ms of per-task
    * initialization (codegen + regex automata), so 32 tasks of 0.1 s
    * of real work burn 5x the serialized CPU (q65's stage-4 cpu went
    * 3.8 -> 17 s wide; q118 regressed 4 -> 18.5 s). Width 6-8 splits
    * the multi-second serialized stages while paying single-digit
    * inits — q65 12.1 -> 8.4 s, q118 4.0 -> 3.3 s in the same-box
    * worktree A/B. Override per deployment via
    * `spark.graft.widen.parallelism`.
    */
  val DefaultMaxWiden = 8

  def widen(df: DataFrame): DataFrame = {
    val target = targetOf(df)
    if (target <= 1) df
    else if (isSmall(df)) df.repartition(target)
    else df
  }

  /** Materialize a frame that feeds two or more consumers, so each of
    * them reads it once from executor storage instead of inlining and
    * recomputing its whole subtree. Same byte guard as [[widen]]: a
    * small frame is `localCheckpoint`ed eagerly (one job, now), a large
    * one — or one whose size is unknown — is returned as it is, so
    * nothing is materialized before its bound is checked.
    *
    * `localCheckpoint`, not `persist`: it cuts the lineage, so every
    * consumer plans over a short `LogicalRDD` scan, and the context
    * cleaner drops the blocks once the frame is unreachable, where a
    * `persist`ed frame stays pinned in the cache manager until someone
    * unpersists it. The checkpointed frame keeps the original plan's
    * statistics, so guards and join planning above it see the same
    * sizes.
    *
    * The trade-off: a local checkpoint's blocks live only on the
    * executors that computed them, and there is no lineage to rebuild
    * them from. If one of those executors is lost before the last
    * action on the frame, that action fails instead of recomputing.
    * Harmless on `local[N]`; on a cluster the byte guard is what keeps
    * large inputs on recomputable lineage.
    */
  def materialize(df: DataFrame): DataFrame =
    if (isSmall(df)) df.localCheckpoint(eager = true) else df

  /** The always-checkpoint member of the family: checkpoint `df`
    * eagerly (one job, now), run `body` over the checkpointed frame,
    * and release its blocks when `body` returns or throws. Use it where
    * the pin is needed for correctness or lineage whatever the size, so
    * there is no byte guard: an ingest batch that must be read before
    * the index it probes is mutated, a frame several joins of one
    * operator read.
    *
    * `body`'s result must not read the pinned frame lazily: its blocks
    * are gone once `pinned` returns. Return a value, or a frame that is
    * itself materialized (written, collected or checkpointed) inside
    * `body`.
    */
  def pinned[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = df.localCheckpoint(eager = true)
    try body(p) finally release(p)
  }

  /** The loop member of the family: checkpoint `init`, then run `steps`
    * in order, each over the last round's checkpoint, checkpointing its
    * output eagerly and then releasing the round it replaces. The
    * returned frame is the last checkpoint; the caller keeps it.
    * `until` (a probe and a failure message) ends the loop at the first
    * checkpoint the probe holds for, and fails the call with the
    * message when `steps` run out first: an unconverged fixed point is
    * a wrong answer. That failure, or a throwing step or probe, leaves
    * nothing pinned. A walk whose last round is read once may run it
    * lazily over the result: `step(iterate(init, Seq.fill(n - 1)(step)))`.
    */
  def iterate(
      init: DataFrame, steps: Seq[DataFrame => DataFrame],
      until: Option[(DataFrame => Boolean, String)] = None): DataFrame = {
    var state = init.localCheckpoint(eager = true)
    try {
      val converged = steps.iterator.exists { step =>
        val next = step(state).localCheckpoint(eager = true)
        release(state)
        state = next
        until.exists(_._1(state))
      }
      until.foreach { case (_, failure) => require(converged, failure) }
      state
    } catch { case e: Throwable => release(state); throw e }
  }

  // `Dataset.unpersist` only drops cache-manager entries, and a local
  // checkpoint is not one: free the checkpoint's own RDD instead
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** The one gate of every driver-local fast path (graph fixed points,
    * union-find, the ANN walk): `Some(rows)` when `df` fits the driver
    * and a loop over long ids is exact, else `None` and the caller runs
    * its distributed operator unchanged. Checks, in order:
    *  1. the byte guard of [[widen]], planning only. Fixed-width rows
    *     are bounded by cap x row width and skip plan stats, which over
    *     a checkpointed join run orders of magnitude high (sf0.01 edge
    *     frames of 56 to 14 474 rows read 0.4-186 GB);
    *  2. every `idCols` column has an integral type — the local loops
    *     key on longs, and a lossy cast (2.5 -> 2, "007" -> 7) would
    *     merge distinct ids the distributed joins keep apart;
    *  3. one bounded `limit(cap + 1).collect()`, where cap is
    *     `spark.graft.graph.localEdgeLimit` rows (default 200k, the
    *     broadcast size class; <= 0 forces every caller distributed);
    *  4. no `idCols` value is null.
    * The returned rows keep `df`'s column order, with the id columns
    * cast to long (lossless after check 2).
    */
  def collectSmall(df: DataFrame, idCols: String*): Option[Array[Row]] = {
    val cap = df.sparkSession.conf.getOption("spark.graft.graph.localEdgeLimit")
      .map(_.toLong).getOrElse(200000L)
    val fields = df.schema.fields
    val capBounded = fields.forall(f => UnsafeRow.isFixedLength(f.dataType)) &&
      BigInt(cap) * (8 + fields.map(_.dataType.defaultSize).sum) <= maxBytes(df)
    if (cap <= 0 || !(capBounded || isSmall(df)) || !integralIds(df, idCols: _*))
      return None
    val n = math.min(cap, Int.MaxValue - 1L).toInt
    val rows = df.select(df.columns.toSeq.map(c =>
        if (idCols.contains(c)) col(c).cast(LongType).as(c) else col(c)): _*)
      .limit(n + 1).collect()
    val ix = idCols.map(df.columns.indexOf(_))
    if (rows.length > n || rows.exists(r => ix.exists(r.isNullAt))) None
    else Some(rows)
  }

  /** Check 2 of [[collectSmall]], also for frames a caller does not collect. */
  private[graft] def integralIds(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  private def targetOf(df: DataFrame): Int = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.widen.parallelism")
      .map(_.toInt)
      .getOrElse(math.min(DefaultMaxWiden, spark.sparkContext.defaultParallelism))
  }

  // size guard from PLAN STATS, not .rdd.getNumPartitions: asking a
  // frame with unexecuted exchanges for its partitions forces AQE
  // to materialize every query stage eagerly (a hidden extra
  // execution), while optimizedPlan.stats is planning-only. Scans
  // report file bytes; joins/windows propagate conservatively
  // upward, and an OVERestimate merely skips the optimization. At
  // corpus scale sizeInBytes is huge, the guard fails, and widen
  // is the identity — no shuffle is added to the 100 TB path.
  private def isSmall(df: DataFrame): Boolean =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes(df)
    catch { case scala.util.control.NonFatal(_) => false }

  private def maxBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.widen.maxBytes")
      .map(_.toLong).getOrElse(256L * 1024 * 1024)
}
