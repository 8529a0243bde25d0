package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.RiskFeatures
import graft.norm.Normalizer
import graft.operators.{BurstDetector, ToolScanner, Widen}
import graft.query.{FilterOptions, Filters}
import graft.rules.{GraftConfig, RuleEngine}
import graft.session.Sessionizer
import graft.sources.LogSources

/** End-to-end pipeline wiring (reference triage.py:227-263 / SURVEY §3).
  *
  * parse -> dedup -> utc time -> sessionize -> request_count ->
  * risk features -> rule engine -> burst detector -> tool scanner ->
  * filters -> sink. The reference keeps its parsed, deduplicated and
  * sessionized table resident and runs every detector and filter over
  * it (SURVEY §3 entry 3). Here the frames that branch — the parse
  * result ([[graft.sources.LineParser.parse]]), the sessionizer's
  * per-row session ids ([[graft.session.Sessionizer.withClusters]])
  * and the output of [[normalize]] — are materialized once when they
  * fit the `spark.graft.widen.maxBytes` guard
  * ([[graft.operators.Widen.materialize]]), so under the guard
  * `LineParser.parse`, `LogSources.parseLogs` and [[normalize]] each
  * run jobs when called, and a pass scans, parses, deduplicates and
  * sessionizes every input once, however many actions follow.
  * Score and filter stay lazy: callers that re-filter interactively
  * re-run only them, over the materialized normalized frame. [[stage]]
  * has one consumer, its write, so it writes the normalized frame
  * lazily. Above the guard every stage is a lazy transform, as at any
  * scale where holding the table is not an option.
  */
object Pipeline {

  /** Options equivalent to the reference pipeline's knobs. */
  final case class Options(
      timeOffsetSeconds: Long = 0,
      sessionGapSeconds: Long = Sessionizer.DefaultThreshold,
      strictTimestamps: Boolean = true,
      burstRiskScore: Double = 95.0,
      burstMinRequests: Long = 100,
      burstMaxGapSeconds: Double = 1.0)

  /** Normalize + sessionize an already-parsed frame. Adds a stable
    * `_row_id` used as the pandas-row-order stand-in (SURVEY §7.4.2).
    *
    * The result feeds every detector of [[score]], so it is
    * materialized when it fits the byte guard ([[Widen.materialize]]):
    * this call then runs the dedup and sessionize jobs, and with
    * `strictTimestamps` the C10 check rides the materialize job
    * ([[checkTimestamps]]). The guard reads this frame's own plan
    * estimate. Spark's size-only estimate of an inner join is the sum
    * of its sides, so the sessionizer's two joins keep it at about 1.1x
    * the parse result's estimate and linear in the input: the two
    * guards switch off at nearly the same input size (MaterializeSpec
    * pins this).
    */
  def normalize(parsed: DataFrame, opts: Options = Options()): DataFrame = {
    val sessioned = sessionize(parsed, opts)
    if (!opts.strictTimestamps) Widen.materialize(sessioned)
    else checkTimestamps(sessioned) { observed =>
      // materialize hands back its input when the guard is shut: no job
      Some(Widen.materialize(observed)).filter(_ ne observed)
    }.getOrElse(sessioned)
  }

  /** [[normalize]] without its final materialize: lazy above the
    * sessionizer's own checkpoint ([[Sessionizer.withClusters]]). */
  private def sessionize(parsed: DataFrame, opts: Options): DataFrame = {
    val withId = parsed.withColumn("_row_id", monotonically_increasing_id())
    val deduped = Normalizer.removeDuplicates(withId, col("_row_id"))
    val timed = Normalizer.withUtcTimestamp(deduped, opts.timeOffsetSeconds, strict = false)
    Sessionizer.withRequestCount(Sessionizer.withClusters(timed, opts.sessionGapSeconds))
  }

  /** Risk stage (reference triage.py:241-245 order: balatro ->
    * burp_intruder -> tool_scanner; W2 unconditionally overwrites).
    */
  def score(
      normalized: DataFrame,
      config: GraftConfig,
      rules: Seq[RuleEngine.SigmaRule],
      webshells: Set[String],
      opts: Options = Options()): DataFrame = {
    val featured = normalized
      .withColumn("uri_risk",
        RiskFeatures.uriRisk(col("request_uri"),
          config.sensitivePaths, config.riskyExtensionPatterns, webshells))
      .withColumn("method_risk", RiskFeatures.methodRisk(col("method")))
      .withColumn("status_risk", RiskFeatures.statusRisk(col("status")))
    val ruled = RuleEngine(featured, rules)
    val burst = BurstDetector(ruled,
      opts.burstRiskScore, opts.burstMinRequests, opts.burstMaxGapSeconds)
    ToolScanner(burst, config.toolSignatures)
  }

  /** Stage the normalized frame as the date/source-partitioned parquet
    * store (SURVEY §4.3 / PLANS.md layout) — parse once, re-query many:
    * subsequent runs read the staged table with partition pruning
    * instead of re-parsing text. CLI: `--stage <dir>` writes it,
    * `--from-stage <dir>` queries it.
    *
    * The write is the normalized frame's only consumer, so it writes
    * the lazy frame: no normalize checkpoint, and with
    * `strictTimestamps` the C10 check rides the write itself
    * ([[writeStageChecked]]).
    */
  def stage(spark: SparkSession, paths: Seq[String], dir: String,
      opts: Options = Options()): Unit =
    stage(LogSources.parseLogs(spark, paths).parsed, dir, opts)

  /** [[stage]] over an already-parsed frame (the CLI parses first, for
    * its error side channel). */
  def stage(parsed: DataFrame, dir: String, opts: Options): Unit = {
    val sessioned = sessionize(parsed, opts)
    if (opts.strictTimestamps) writeStageChecked(sessioned, dir)
    else graft.sink.ParquetStage.write(sessioned, dir)
  }

  /** A staged store as [[score]] reads it: normalize's outputs, without
    * the partition column. */
  def readStage(spark: SparkSession, dir: String): DataFrame =
    graft.sink.ParquetStage.read(spark, dir).drop("event_date")

  /** The staging-folded C10 strict check ([[checkTimestamps]] on the
    * write): zero extra jobs on the all-valid path. On failure it
    * deletes the half-written stage (a later `--from-stage` must not
    * read a store that failed its contract) before it throws.
    */
  def writeStageChecked(norm: DataFrame, dir: String): Unit =
    checkTimestamps(norm, onBad = () => {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(norm.sparkSession.sessionState.newHadoopConf()).delete(p, true)
    }) { observed => Some(graft.sink.ParquetStage.write(observed, dir)) }

  /** The C10 strict check on a job that runs anyway: `job` gets `norm`
    * with a null-`utc_timestamp` count observed on it, and returns its
    * result, or `None` if it ran no job over that frame (then the check
    * is an eager action of its own). Only a positive count, or no job,
    * costs one more action: [[Normalizer.requireTimestamps]], which
    * fetches the reference message's five examples and, if there are
    * any, runs `onBad` and throws.
    */
  private def checkTimestamps[T](norm: DataFrame, onBad: () => Unit = () => ())(
      job: DataFrame => Option[T]): Option[T] = {
    val obs = org.apache.spark.sql.Observation("strict_timestamps")
    val out = job(norm.observe(obs,
      sum(when(col("utc_timestamp").isNull, 1L).otherwise(0L)).as("n_bad")))
    val clean = out.isDefined && (obs.get("n_bad") match {
      case null => true
      case n: java.lang.Number => n.longValue() == 0
    })
    if (!clean) Normalizer.requireTimestamps(norm, onBad)
    out
  }

  /** Score + filter over a previously staged store. The staged frame
    * already carries normalize's outputs (_row_id, utc_timestamp,
    * cluster, request_count), so this path skips parse AND normalize.
    */
  def runFromStage(
      spark: SparkSession,
      stageDir: String,
      config: GraftConfig,
      rules: Seq[RuleEngine.SigmaRule],
      webshells: Set[String],
      opts: Options = Options(),
      filters: FilterOptions = FilterOptions()): DataFrame = {
    val scored = score(readStage(spark, stageDir), config, rules, webshells, opts)
    Filters(scored, filters, col("_row_id"))
  }
}
