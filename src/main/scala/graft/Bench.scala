package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}

import graft.util.LocalSpark

object Bench {

  /** Force FULL evaluation: a bare count() lets Catalyst prune every
    * projected column (q6_parse would "run" without parsing a line).
    * Hashing all columns into an aggregated checksum makes each query's
    * real work non-prunable while still collecting one row. bit_xor,
    * NOT sum: summing 64-bit hashes random-walks past Long range and
    * ANSI mode (Spark 4 default) aborts with ARITHMETIC_OVERFLOW.
    * Returns (order-insensitive content hash, row count): the hash makes
    * same-semantics duels (ScaleBench's monolithic vs chunked) assertable
    * without a second materialization of either side. The one force of
    * every entry point, so no two can diverge in what "ran the query"
    * means.
    */
  def force(df: DataFrame): (Long, Long) = {
    val h = xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
    val r = df.select(h.as("_h"))
      .agg(expr("bit_xor(_h)"), count(lit(1))).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** One throwaway pass of every query at `warmDir` (the smallest sf:
    * identical schemas warm the codegen cache, and the generated
    * classes JIT here instead of inside the first timed query).
    * `warmDir = "none"` disables. Failures are counted and reported —
    * a silently absent warm dir would reintroduce exactly the
    * first-query warm-order variance this exists to remove.
    */
  def warmAll(spark: SparkSession, warmDir: String): Unit = {
    if (warmDir == "none") return
    var failures = 0
    SparkEntry.selectQueries(Nil, "warmAll").foreach { case (_, fn) =>
      try force(fn(spark, warmDir))
      catch { case _: Throwable => failures += 1 }
    }
    if (failures > 0)
      System.err.println(s"[bench] WARNING: $failures warmup queries failed against " +
        s"$warmDir — first timed queries will absorb JIT/codegen cost " +
        "(set SPARK_GRAFT_WARM_DIR to a valid small sf dir)")
  }

  /** Timed passes per query: the median of `SPARK_GRAFT_BENCH_PASSES`
    * (default 3). A single timed pass made one shared-box contention
    * spike the round's official number (round-5 artifact: q11 recorded
    * 9.24 s against a 1.6 s steady state). The median of three
    * back-to-back passes is immune to a single spike; the per-query
    * max-min spread is reported alongside so an artifact whose passes
    * disagree is visibly noisy rather than silently wrong.
    */
  def passes: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)

  /** The timed suite loop of Bench and ScaleSuite: every
    * `SparkEntry.queries` entry (or the `SPARK_GRAFT_BENCH_ONLY` subset)
    * against `sfDir`, as (name, median seconds, spread). A failed query
    * records -1 for both (never a plausible-looking elapsed time), so
    * benchmark regressions caused by exceptions are loud.
    */
  def timeSuite(spark: SparkSession, sfDir: String): Seq[(String, Double, Double)] = {
    // SPARK_GRAFT_BENCH_ONLY=q65_curation_pipeline,q73_... restricts the
    // timed set — for A/B-profiling individual queries on an idle box
    // (a full run leaves it unset and times everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    SparkEntry.selectQueries(only, "SPARK_GRAFT_BENCH_ONLY").map { case (name, fn) =>
      // Fresh-state block per query: by the time a late query runs,
      // the suite has accumulated cached datasets, broadcast blocks,
      // and heap garbage from every earlier query — measured round 11
      // as ~2 s of phantom inflation on q131 (9.14 s in-suite vs
      // 6.90 s isolated, with its plan subtree provably untouched).
      // Dropping cache and forcing a GC BEFORE t0 keeps that tax out
      // of the timed window, so in-suite medians match isolated runs
      // and round-over-round deltas mean plan changes, not suite
      // growth. (GC cost itself is outside the timing.)
      spark.catalog.clearCache()
      System.gc()
      def timed(): Double = {
        val t0 = System.nanoTime()
        force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val times = (1 to passes).map { _ =>
        try timed()
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            -1.0
        }
      }
      if (times.contains(-1.0)) (name, -1.0, -1.0)
      else {
        // Spread-triggered escalation: on a contended box all three
        // passes can land slow together (round-6 artifact: q10_rules
        // recorded 5.62 s spread 3.17 against a 3.27 s steady state).
        // When the passes disagree by more than max(0.5 s, median/2),
        // two extra passes re-take the median over all five — a
        // transient spike now needs 3 of 5 slow passes to move the
        // number. The round-10 trigger drop (was max(1 s, median)):
        // a 10-pass trace showed the chronic q31 "spread" is the
        // FIRST timed pass carrying one-time AQE-final-plan codegen
        // at the bench sf (steady state 1.3-1.5 s ± 0.15 after),
        // which the old trigger never escalated past — the trimmed
        // 5-pass spread describes the steady-state neighborhood the
        // median already reports.
        var sorted = times.sorted
        var median = sorted(sorted.length / 2)
        if (sorted.last - sorted.head > math.max(0.5, median / 2)) {
          val extra = (1 to 2).map { _ =>
            try timed() catch { case _: Throwable => -1.0 }
          }.filter(_ >= 0)
          sorted = (times ++ extra).sorted
          median = sorted(sorted.length / 2)
          // trimmed spread: drop the single min and max of the 5 so
          // the reported spread describes the re-taken median's
          // neighborhood, not the spike that triggered escalation
          if (sorted.length >= 5) sorted = sorted.slice(1, sorted.length - 1)
        }
        (name, median, sorted.last - sorted.head)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val extra = sys.env.get("SPARK_GRAFT_SQLCONF") // dev A/B only
      .map(_.split(";").map(_.trim).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toSeq).getOrElse(Seq.empty)
    val spark = LocalSpark.session(s"local[$cpus]", cpus, "WARN", extra)
    // warmup before the timed loop (see warmAll: the first timed query,
    // q10 in sort order, previously absorbed multi-second one-time
    // codegen/JIT cost — 8.5s round 3 vs 7.5s round 2 was warm-order
    // variance, not its plan)
    warmAll(spark, sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"))
    val results = timeSuite(spark, sfDir)
    // slowest-first: the driver records a truncated slice of this
    // line, which in round 10 dropped the q100+ heavy queries from
    // the gate artifact entirely (alphabetical order put them at the
    // cut). With the maps ordered by descending median — and a
    // compact top-10 right after "value" — the heavy profile survives
    // any truncation direction.
    val byCost = results.sortBy { case (_, v, _) => -v }
    val qs = byCost.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val slowest = byCost.take(10).map { case (k, v, _) =>
      s"\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    // Locale.ROOT: the f-interpolator is locale-sensitive and a
    // comma-decimal locale would emit malformed JSON
    val spreads = byCost.map { case (k, _, s) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(s))
    }.mkString("{", ",", "}")
    val failedJson = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Box calibration: a deterministic CPU-bound probe (fixed-work
    // integer mixing, single-threaded and across all cores) timed on
    // THIS box in THIS run — the denominator that makes cross-round
    // artifact drift machine-attributable without a manual worktree
    // A/B (rounds 13→14 inflated ~+28%/query uniformly across
    // untouched subtrees; two rounds of A/B adjudication later, the
    // verdict asked the bench to self-adjudicate). Compare
    // BENCH_rN.calibration to BENCH_rM.calibration before reading
    // anything into a total delta.
    val calibration = {
      def mixWork(iters: Long): Long = {
        var x = 0x9e3779b97f4a7c15L
        var i = 0L
        while (i < iters) {
          x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
          x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
          x += i
          i += 1
        }
        x
      }
      mixWork(1000000L) // JIT warm
      val t1 = System.nanoTime()
      val sink1 = mixWork(400000000L)
      val single = (System.nanoTime() - t1) / 1e9
      val cores = Runtime.getRuntime.availableProcessors()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      val t2 = System.nanoTime()
      val fs2 = (1 to cores).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long = mixWork(400000000L)
        }))
      val sink2 = fs2.map(_.get()).sum
      val all = (System.nanoTime() - t2) / 1e9
      pool.shutdown()
      if (sink1 + sink2 == 42L) System.err.println("") // keep the work live
      String.format(java.util.Locale.ROOT,
        """{"single_thread_sec":%.3f,"all_cores_sec":%.3f,"cores":%d}""",
        java.lang.Double.valueOf(single), java.lang.Double.valueOf(all),
        Integer.valueOf(cores))
    }
    // Contract: ONE JSON line carrying the full per-query map, printed
    // as this program's LAST stdout line. Round 16 split this into a
    // full-map line followed by a compact summary line WITHOUT the
    // "queries" key — the driver parsed neither ("parsed": null in both
    // BENCH_r16 artifacts; a summary that drops the queries map is not
    // the contract shape). The round-16 summary experiment is reverted;
    // the companion fix (build.sbt run/outputStrategy := StdoutOutput)
    // removes the "[info] " logger prefix that also breaks json parsing
    // of this line.
    println(s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"slowest":$slowest,"queries":$qs,"spread":$spreads,"passes":$passes,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
