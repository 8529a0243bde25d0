package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared deletion + compaction lifecycle for the persisted index
  * families (minhash / simhash / winnow / IVF / PQ). Completes the
  * build → append → probe loop with the two operations a long-running
  * 100 TB ingest eventually needs:
  *
  *  - '''delete''' (takedowns, re-crawls): appending ids to a
  *    `tombstones.parquet` set is O(batch) — no index rewrite. Every
  *    probe anti-joins the tombstone set, so deleted docs stop
  *    matching immediately.
  *  - '''compact''': each `mode=append` ingest batch adds parquet
  *    part-files without bound (a year of hourly batches is ~10k files
  *    per dataset — metadata pressure and tiny-file reads). Compaction
  *    physically applies the tombstones and rewrites each dataset to a
  *    bounded file count, then clears the tombstone set.
  *
  * Contract: a tombstoned id stays in the ingestion LEDGER (the
  * replay anti-join keeps using it — a replayed batch containing a
  * deleted id must not re-append), so re-adding a removed id requires
  * a compact first; the family specs pin this.
  *
  * Crash safety: compaction swaps datasets via `.bak` rename
  * (write-new → live-to-bak → new-to-live → drop-bak) and deletes the
  * tombstone file LAST, so a crash at any step is healed by simply
  * re-running compact — the prologue restores a half-swapped dataset
  * from its `.bak` and re-applies the still-present tombstones.
  *
  * Mutation exclusivity: every mutating entry point (the family
  * appends, [[removeFromIndex]], [[compactIndex]]) runs under
  * [[withMutationLock]] — a second concurrent mutator FAILS FAST with
  * [[ConcurrentMutationException]] instead of silently corrupting the
  * index. Probes stay lock-free; do not probe an index while
  * compacting it (the swap window moves files under the reader).
  */
object IndexOps {

  private def tombPath(dir: String) = s"$dir/tombstones.parquet"
  private def lockPath(dir: String) = s"$dir/_mutation.lock"

  /** A second mutator found the index locked. Not retried internally:
    * the caller decides whether to wait, fail the job, or (after a
    * verified crash) [[IndexOps.forceClearMutationLock]].
    */
  final class ConcurrentMutationException(msg: String)
    extends IllegalStateException(msg)

  /** Serialize index MUTATIONS (append / delete / compact) behind an
    * exclusive lock file, turning the documented single-mutator
    * contract into a loud failure instead of silent corruption: the
    * second mutator's `create(overwrite = false)` fails (atomic on
    * HDFS and object-store semantics Hadoop exposes; best-effort
    * check-then-create on the local FS) and raises
    * [[ConcurrentMutationException]] naming the holder.
    *
    * The lock releases on BOTH normal and exceptional exit — a live
    * process that failed its mutation knows it is done mutating. Only
    * process DEATH leaves the lock behind; the next mutator then
    * fails fast with the stale holder's tag, and an operator who has
    * verified the holder is gone clears it with
    * [[forceClearMutationLock]] (mutations stay crash-safe
    * independently of the lock: ledger-first appends replay cleanly
    * and compact heals by re-running — the lock only rules out
    * CONCURRENT writers).
    *
    * Probes never take the lock: reads stay lock-free (the existing
    * probe-vs-maintenance caveat on [[compactIndex]] stands).
    */
  def withMutationLock[A](spark: SparkSession, dir: String, op: String)(body: => A): A =
    withMutationLock(spark, dir, op, waitMs = 0L)(body)

  /** Lock acquisition with a bounded wait: instead of failing fast, a
    * second mutator polls for up to `waitMs` for the holder to
    * release, then proceeds against the table's NEW latest state —
    * concurrent mutators (two deletes, a delete and an optimize)
    * SERIALIZE and all land, the multi-writer behavior a shared
    * pipeline needs. `waitMs = 0` keeps the original fail-fast
    * contract. Only a DEAD holder makes the wait hopeless; the
    * timeout failure names the holder exactly like the fail-fast
    * path.
    */
  def withMutationLock[A](
      spark: SparkSession, dir: String, op: String, waitMs: Long)(
      body: => A): A = {
    val p = new Path(lockPath(dir))
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    val deadline = System.currentTimeMillis() + waitMs
    var stream: org.apache.hadoop.fs.FSDataOutputStream = null
    while (stream == null) {
      try stream = f.create(p, false)
      catch {
        case e: java.io.IOException =>
          if (waitMs > 0 && System.currentTimeMillis() < deadline)
            Thread.sleep(50)
          else {
            val holder =
              try {
                val in = f.open(p)
                try {
                  val buf = new Array[Byte](4096)
                  val n = in.read(buf)
                  new String(buf, 0, math.max(n, 0),
                    java.nio.charset.StandardCharsets.UTF_8).trim
                } finally in.close()
              } catch { case _: Throwable => "<unreadable>" }
            val waited = if (waitMs > 0) s" after waiting ${waitMs}ms" else ""
            throw new ConcurrentMutationException(
              s"index at $dir is being mutated by [$holder]$waited — concurrent " +
                "mutations corrupt the index. If that process crashed " +
                "(verify it is gone), clear the stale lock with " +
                s"IndexOps.forceClearMutationLock and re-run. ($e)")
          }
      }
    }
    try {
      stream.write(s"$op pid=${ProcessHandle.current().pid()} t=${
        java.time.Instant.now()}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally stream.close()
    try body
    finally { f.delete(p, false); () }
  }

  /** Clear a stale mutation lock left by a DEAD mutator. Only for
    * operator use after verifying the holder process is gone —
    * clearing a LIVE mutator's lock reintroduces exactly the
    * concurrent-write corruption the lock exists to prevent.
    */
  def forceClearMutationLock(spark: SparkSession, dir: String): Unit = {
    val p = new Path(lockPath(dir))
    val f = fs(spark, p)
    if (!(f.delete(p, false) || !f.exists(p)))
      throw new java.io.IOException(s"forceClearMutationLock: delete failed for $p")
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** The replay anti-join of the incremental indexes: `df` minus the
    * rows whose `idCol` appears in the `id` column of the ledger
    * dataset at `ledger`, or `None` when no ledger exists yet (the
    * first batch: nothing to drop, and nothing to probe). With
    * `castLong` the ledger id is cast to long first.
    */
  def unledgered(df: DataFrame, idCol: String, ledger: String,
      castLong: Boolean = false): Option[DataFrame] = {
    val spark = df.sparkSession
    if (!exists(spark, ledger)) None
    else {
      val id = if (castLong) col("id").cast("long") else col("id")
      Some(df.join(spark.read.parquet(ledger).select(id.as(idCol)), Seq(idCol), "left_anti"))
    }
  }

  /** Tombstone `ids` (their `idCol`, long-castable) in the index at
    * `dir`: O(batch) append, honored by every probe from the next read
    * on. Idempotent — re-tombstoning an id is harmless (anti-join
    * semantics don't count).
    */
  def removeFromIndex(ids: DataFrame, idCol: String, dir: String): Unit =
    withMutationLock(ids.sparkSession, dir, "delete") {
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .write.mode("append").parquet(tombPath(dir))
    }

  /** `df` minus tombstoned ids, matching on `df`'s `joinCol`. The
    * no-tombstone fast path keeps the plan unchanged (and the build's
    * probe plans identical) until the first delete.
    */
  def dropTombstoned(
      spark: SparkSession, dir: String, df: DataFrame, joinCol: String): DataFrame =
    if (!exists(spark, tombPath(dir))) df
    else df.join(
      spark.read.parquet(tombPath(dir)).select(col("id").as(joinCol)).distinct(),
      Seq(joinCol), "left_anti")

  /** Compact the index at `dir`: for each `(dataset file, id column)`
    * apply the tombstones and rewrite to `targetFiles` part-files via
    * the `.bak` swap, then clear the tombstone set (LAST — so a crash
    * anywhere re-runs to the same result).
    */
  def compactIndex(
      spark: SparkSession, dir: String,
      datasets: Seq[(String, String)], targetFiles: Int = 4): Unit =
    withMutationLock(spark, dir, "compact") {
      compactIndexLocked(spark, dir, datasets, targetFiles)
    }

  private def compactIndexLocked(
      spark: SparkSession, dir: String,
      datasets: Seq[(String, String)], targetFiles: Int): Unit = {
    require(targetFiles > 0, s"compactIndex: targetFiles must be positive")
    datasets.foreach { case (name, idCol) =>
      compactDataset(spark, dir, name, idCol, targetFiles)
    }
    val t = new Path(tombPath(dir))
    val tf = fs(spark, t)
    // delete() signals failure by returning false; a silently-kept
    // tombstone file would suppress ids legitimately re-added after
    // this compact — same must() discipline as every swap step above.
    if (!(tf.delete(t, true) || !tf.exists(t)))
      throw new java.io.IOException(
        s"compactIndex: tombstone clear failed for $dir — datasets are " +
          "compacted but the stale tombstone set would suppress re-added " +
          "ids. Re-running compact heals (it re-applies the tombstones " +
          "and retries the clear).")
    ()
  }

  private def compactDataset(
      spark: SparkSession, dir: String, name: String,
      idCol: String, targetFiles: Int): Unit =
    swapDataset(spark, dir, name) { (live, fresh) =>
      // repartition, not coalesce: bounds the file count while keeping
      // the write parallel (coalesce(1) would single-thread a large
      // dataset rewrite)
      dropTombstoned(spark, dir, spark.read.parquet(live), idCol)
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(fresh)
    }

  /** Crash-safe dataset rewrite via the `.bak` swap (write-new →
    * live-to-bak → new-to-live → drop-bak): `rewrite(livePath,
    * freshPath)` reads the live dataset and writes its replacement to
    * the fresh path; every rename/delete RESULT is checked (Hadoop
    * FileSystems signal failure by returning false, not throwing — a
    * swallowed false here would leave a compact half-applied while its
    * caller proceeds, e.g. compactIndex clearing tombstones while the
    * old tombstone-bearing dataset is still live). A crash at any
    * step heals by re-running: the prologue restores a half-swapped
    * dataset from its `.bak`. Callers must hold the mutation lock.
    * No-op if the dataset does not exist (e.g. a ledger-only index).
    */
  private[graft] def swapDataset(
      spark: SparkSession, dir: String, name: String)(
      rewrite: (String, String) => Unit): Unit = {
    val live = new Path(s"$dir/$name")
    val bak = new Path(s"$dir/$name.bak")
    val fresh = new Path(s"$dir/$name.compact")
    val f = fs(spark, live)
    def must(ok: Boolean, step: String, state: String): Unit =
      if (!ok) throw new java.io.IOException(
        s"swapDataset: $step failed for $dir/$name — aborting. $state " +
          "Re-running the compact heals and completes the swap.")
    // heal a previous crash mid-swap: live missing but .bak present
    if (!f.exists(live) && f.exists(bak)) must(f.rename(bak, live), "bak restore",
      "The dataset is at its .bak path; probes fail until restored.")
    if (!f.exists(live)) return // dataset not written yet
    f.delete(fresh, true) // false = nothing to delete; verified below
    f.delete(bak, true)
    must(!f.exists(fresh) && !f.exists(bak), "stale .compact/.bak cleanup",
      "The live dataset is unchanged.")
    rewrite(live.toString, fresh.toString)
    must(f.rename(live, bak), "live -> .bak rename",
      "The live dataset is unchanged.")
    must(f.rename(fresh, live), ".compact -> live rename",
      "The live dataset is MISSING (it sits at .bak); probes fail until re-run.")
    must(f.delete(bak, true) || !f.exists(bak), ".bak delete",
      "The compacted dataset is live; only the stale .bak remains.")
    ()
  }
}
