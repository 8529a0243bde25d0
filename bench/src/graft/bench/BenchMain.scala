package graft.bench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{Bench, OracleGen, Pipeline, SparkEntry}
import graft.cli.Triage
import graft.functions.RiskFeatures
import graft.norm.Normalizer
import graft.operators.{BurstDetector, ToolScanner}
import graft.query.{FilterOptions, Filters}
import graft.rules.{GraftConfig, RuleEngine}
import graft.session.Sessionizer
import graft.sink.{ParquetStage, Renderer}
import graft.sources.LogSources

/** The benchmark program: one workload per run, in one JVM on
  * `local[N]`, driven as a closed loop (each call is issued after the
  * previous one returns). Every module is measured from outside, by
  * timing calls to the same public functions `cli/Triage`, `Pipeline`
  * and `SparkEntry.queries` call.
  *
  * Usage: BenchMain --workload triage_raw|stage_requery
  *   --seed N --seconds S --trace 0|1 --inputs DIR --work DIR --out FILE
  *   --paths P,P --hot-ip IP --start-epoch S [--docs DIR]
  *        BenchMain --selftest spans --work DIR --out FILE
  *
  * Writes one JSON result (metrics with units, attempted/failed counts
  * and any failed checks) to `--out`; `run.py` checks the counts
  * against the generator's manifest and turns it into the benchmark's
  * output line.
  */
object BenchMain {

  final case class Env(spark: SparkSession, config: GraftConfig,
      rules: Seq[RuleEngine.SigmaRule], shells: Set[String])

  /** The generated corpus: its paths (a logs directory and the Splunk
    * export), the hot scanner IP and the epoch second it starts at. */
  final case class Corpus(paths: Seq[String], hotIp: String, startEpoch: Long)

  /** Everything a run reports. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  }

  val MixQueries: Seq[String] = Seq("q131_crawl_corpus", "q65_curation_pipeline",
    "q118_tfidf_topk", "q137_incremental_pagerank", "q229_deletion_vectors")
  val Layers: Seq[String] = Seq("sources", "norm", "session", "functions", "rules",
    "operators", "query", "sink")
  val Setups = 11
  val Shapes = 7
  val Limit: Int = Triage.Args.DefaultLimit

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val res = new Result
    if (a.contains("selftest")) selfTest(a("selftest"), work, res)
    else {
      val cores = math.min(4, Runtime.getRuntime.availableProcessors())
      val inputs = a("inputs")
      val trace = a.getOrElse("trace", "0") == "1"
      val seconds = a("seconds").toDouble
      val seed = a("seed").toLong
      val corpus = Corpus(a("paths").split(",").toSeq, a("hot-ip"),
        a("start-epoch").toLong)
      HeapWatch.start()
      val env = setup(cores, work, inputs, res)
      try a("workload") match {
        case "triage_raw" =>
          triageRaw(env, corpus, work, seconds, a.get("docs").filter(_ => trace), seed, res)
        case "stage_requery" => stageRequery(env, corpus, work, seed, seconds, trace, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally env.spark.stop()
      res.put("jvm.heap_after_gc_mb", HeapWatch.maxAfterGcBytes / 1048576.0, "MB")
      if (trace) calibrate(res)
    }
    writeResult(res, a("out"))
  }

  // ---------------------------------------------------------------- setup

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.hadoop.fs.file.impl", "graft.util.NoForkLocalFileSystem")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session build plus config/rules/shell loading, done [[Setups]]
    * times; `setup_s` is the median, the first (cold JVM) one is kept
    * as `setup.cold_s`. The last session is the one the workload uses. */
  def setup(cores: Int, work: String, inputs: String, res: Result): Env = {
    val times = mutable.ArrayBuffer.empty[Double]
    var env: Env = null
    for (i <- 1 to Setups) {
      if (env != null) env.spark.stop()
      val t0 = System.nanoTime()
      val spark = session(cores, work)
      val config0 = GraftConfig.load(s"$inputs/config.yaml")
      val config = config0.copy(rulesPath = s"$inputs/${config0.rulesPath}",
        webshellPath = s"$inputs/${config0.webshellPath}")
      env = Env(spark, config, RuleEngine.loadRules(config.rulesPath),
        GraftConfig.loadWebshells(config.webshellPath))
      times += secs(t0)
    }
    res.put("setup_s", median(times.toSeq), "s")
    res.put("setup.cold_s", times.head, "s")
    env
  }

  // ---------------------------------------------------------- triage_raw

  /** The filter a triage pass applies: Triage's config defaults plus
    * `--risk-score 40`, so the display sink gets a small result. */
  def triageFilters(env: Env): FilterOptions = withDefaults(env, FilterOptions(riskScore = 40))

  /** Triage's CLI wiring of the config defaults into the filter. */
  def withDefaults(env: Env, f: FilterOptions): FilterOptions = f.copy(
    extensionIgnore = if (f.extensionIgnore.nonEmpty) f.extensionIgnore
      else env.config.ignoreExtensions,
    ipIgnore = if (f.ipIgnore.nonEmpty) f.ipIgnore else env.config.ignoreIp)

  /** One raw-text triage pass, the calls `cli/Triage` makes without
    * `--stage`/`--from-stage`: parse, the error side channel, normalize,
    * score, filter, bounded collect and CSV render. Returns the result's
    * digest (row count + order-free hash of the CSV lines). */
  def triagePass(env: Env, paths: Seq[String], work: String, f: FilterOptions): Digest = {
    val spark = env.spark
    val parsed = LogSources.parseLogs(spark, paths)
    if (parsed.errors.count() > 0) writeErrors(parsed.errors, work)
    val normalized = Pipeline.normalize(parsed.parsed, Pipeline.Options())
    val scored = Pipeline.score(normalized, env.config, env.rules, env.shells)
    display(Filters(scored, f, col("_row_id")))
  }

  /** The display sink: method+path projection, bounded collect, CSV. */
  def display(out: DataFrame): Digest = {
    val rows = Renderer.withMethodPath(out).limit(Limit + 1).collect().toSeq
    Digest(rows.size, linesHash(Renderer.renderCsv(rows.take(Limit))))
  }

  /** Triage's S7 side channel: up to 10 000 unparseable lines to errors.log. */
  def writeErrors(errors: DataFrame, work: String): Unit = {
    val errs = errors.limit(10000).collect()
    val text = errs.map(r => s"Failed to parse [${r.getString(0)}]: ${r.getString(1)}\n").mkString
    Files.writeString(Paths.get(work, "errors.log"), text)
  }

  final case class Digest(rows: Int, hash: String)

  /** Frames of a layered triage pass, each forced. */
  final case class LayerFrames(parsed: DataFrame, rejected: Long, normed: DataFrame,
      sessioned: DataFrame, ruled: DataFrame, scored: DataFrame, filtered: DataFrame,
      digest: Digest)

  /** Force a layer's output so no work fuses across the boundary. */
  def force(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def sourcesLayer(env: Env, paths: Seq[String], work: String, sp: Spans,
      errorChannel: Boolean): (DataFrame, Long) = sp.span("sources") {
    val p = LogSources.parseLogs(env.spark, paths)
    val rejected = if (errorChannel) {
      val n = p.errors.count()
      if (n > 0) writeErrors(p.errors, work)
      n
    } else -1L
    (force(p.parsed), rejected)
  }

  /** `Pipeline.normalize` split at the norm/session boundary. */
  def normLayer(parsed: DataFrame, strict: Boolean, sp: Spans): DataFrame = sp.span("norm") {
    val withId = parsed.withColumn("_row_id", monotonically_increasing_id())
    force(Normalizer.withUtcTimestamp(
      Normalizer.removeDuplicates(withId, col("_row_id")), 0, strict))
  }

  def sessionLayer(normed: DataFrame, sp: Spans): DataFrame = sp.span("session") {
    force(Sessionizer.withRequestCount(
      Sessionizer.withClusters(normed, Sessionizer.DefaultThreshold)))
  }

  /** `Pipeline.score` split into its functions/rules/operators layers,
    * then the query layer. */
  def scoreLayers(env: Env, normalized: DataFrame, sp: Spans): (DataFrame, DataFrame) = {
    val c = env.config
    val featured = sp.span("functions")(force(normalized
      .withColumn("uri_risk", RiskFeatures.uriRisk(col("request_uri"),
        c.sensitivePaths, c.riskyExtensionPatterns, env.shells))
      .withColumn("method_risk", RiskFeatures.methodRisk(col("method")))
      .withColumn("status_risk", RiskFeatures.statusRisk(col("status")))))
    val ruled = sp.span("rules")(force(RuleEngine(featured, env.rules)))
    val opts = Pipeline.Options()
    val scored = sp.span("operators")(force(ToolScanner(
      BurstDetector(ruled, opts.burstRiskScore, opts.burstMinRequests, opts.burstMaxGapSeconds),
      c.toolSignatures)))
    (ruled, scored)
  }

  def queryAndSink(scored: DataFrame, f: FilterOptions, sp: Spans): (DataFrame, Digest) = {
    val filtered = sp.span("query")(force(Filters(scored, f, col("_row_id"))))
    (filtered, sp.span("sink")(display(filtered)))
  }

  def layeredTriage(env: Env, paths: Seq[String], work: String, f: FilterOptions,
      sp: Spans): LayerFrames = sp.span("triage_pass") {
    val (parsed, rejected) = sourcesLayer(env, paths, work, sp, errorChannel = true)
    val normed = normLayer(parsed, strict = true, sp)
    val sessioned = sessionLayer(normed, sp)
    val (ruled, scored) = scoreLayers(env, sessioned, sp)
    val (filtered, digest) = queryAndSink(scored, f, sp)
    LayerFrames(parsed, rejected, normed, sessioned, ruled, scored, filtered, digest)
  }

  /** Row counters of a layered pass (extra jobs, run outside any span),
    * which run.py checks against the generator's manifest. */
  def layerCounts(fr: LayerFrames, hotIp: String, res: Result): Unit = {
    val parsed = fr.parsed.count()
    val normed = fr.normed.count()
    def count(name: String, n: Long): Unit = res.put(name, n.toDouble, "count")
    count("sources.lines_in", parsed + fr.rejected)
    count("sources.rows_rejected", fr.rejected)
    count("norm.rows_dropped", parsed - normed)
    count("norm.rows_out", normed)
    count("session.clusters", fr.sessioned.select(countDistinct(col("cluster"))).head().getLong(0))
    count("rules.rows_hit", fr.ruled.filter(col("risk_score") > 0).count())
    count("operators.burst_rows",
      fr.scored.filter(col("rule_applied") === BurstDetector.RuleTitle).count())
    count("operators.tool_rows", fr.scored.filter(col("tool") =!= "").count())
    count("operators.hot_ip_rows", fr.scored.filter(col("ip") === hotIp).count())
    count("query.rows_out", fr.filtered.count())
  }

  def dropCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** With `docs` (a traced run) the traced region is one layered triage
    * pass plus one oracled pass over the five mix queries on `docs`,
    * after an untraced warm-up pass of the mix. */
  def triageRaw(env: Env, corpus: Corpus, work: String, seconds: Double,
      docs: Option[String], seed: Long, res: Result): Unit = {
    val f = triageFilters(env)
    val times = mutable.ArrayBuffer.empty[Double]
    def timedPass(): Digest = {
      val t0 = System.nanoTime()
      res.attempted += 1
      val d = triagePass(env, corpus.paths, work, f)
      times += secs(t0)
      d
    }
    val first = timedPass()
    res.put("first_s", times.head, "s")

    // correctness, outside the timed region: a layered pass must give the
    // first pass's result, and its counters go to run.py's manifest check.
    // Running it here also lets the JIT settle before the warm passes.
    val fr = layeredTriage(env, corpus.paths, work, f, NoSpans)
    res.check(fr.digest == first, s"layered pass result ${fr.digest} != $first")
    layerCounts(fr, corpus.hotIp, res)
    dropCheckpoints(env.spark)

    val budget = if (docs.nonEmpty) seconds / 2 else seconds
    val digests = mutable.ArrayBuffer.empty[Digest]
    val loopStart = System.nanoTime()
    while (digests.isEmpty || secs(loopStart) < budget) digests += timedPass()
    val warm = times.drop(1).toSeq
    res.put("warm_s", median(warm), "s")
    res.put("warm_n", warm.size.toDouble, "count")
    tail(warm, res)
    res.put("triage_lines_per_s", res.metrics("sources.lines_in")._1 / median(warm), "lines/s")
    res.check(digests.forall(_ == first),
      s"triage passes disagree: ${(first +: digests).distinct.mkString(", ")}")

    docs.foreach { d =>
      val tr = new Tracer(env.spark.sparkContext)
      val t0 = System.nanoTime()
      val traced = layeredTriage(env, corpus.paths, work, f, tr)
      res.put("trace.overhead_frac", secs(t0) / median(warm) - 1, "ratio")
      res.check(traced.digest == first, s"traced pass result ${traced.digest} != $first")
      dropCheckpoints(env.spark)
      // the warm-up pass takes each query's one-time cost (codegen, first
      // use), so the traced pass is warm whatever order the seed picks
      val order = mixOrder(seed)
      mixPass(env, d, s"$work/mix_warmup", order, NoSpans, res)
      mixPass(env, d, s"$work/mix_out", order, tr, res)
      traceReport(tr.finish(), work, res)
      writeOracles(env, d, s"$work/mix_out", order)
    }
  }

  // ------------------------------------------------------- stage_requery

  /** A seeded sequence of `--from-stage` filters: rounds of the [[Shapes]]
    * shapes (time range, status, IP, URI keyword, risk score, tool focus,
    * cluster id), each round in a seeded order. The parameters are fixed,
    * except the seeded cluster ids, so every round selects a similar share
    * of any generated corpus. */
  def requeryFilters(env: Env, seed: Long, n: Int, startEpoch: Long): Seq[FilterOptions] = {
    val rnd = new scala.util.Random(seed)
    def ts(hours: Long): String = java.time.Instant.ofEpochSecond(startEpoch + hours * 3600)
      .toString.replace("T", " ").stripSuffix("Z")
    val shapes: Seq[() => FilterOptions] = Seq(
      () => FilterOptions(startTime = Some(ts(30)), endTime = Some(ts(36))),
      () => FilterOptions(statusInclude = Seq(404)),
      () => FilterOptions(ipInclude = Seq("192.0.2.0/24")),
      () => FilterOptions(uriInclude = Seq("admin")),
      () => FilterOptions(riskScore = 60),
      () => FilterOptions(toolsPresent = true),
      () => FilterOptions(clusterIdInclude = Seq.fill(3)(rnd.nextInt(2000).toLong)))
    require(shapes.size == Shapes)
    Iterator.continually(rnd.shuffle(shapes)).flatten.take(n).map(s => withDefaults(env, s())).toVector
  }

  def requery(env: Env, stageDir: String, f: FilterOptions): Digest =
    display(Pipeline.runFromStage(env.spark, stageDir, env.config, env.rules, env.shells,
      filters = f))

  /** Files the scans of an executed plan read (after partition pruning). */
  object Scans extends AdaptiveSparkPlanHelper {
    def filesRead(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }

  def layeredRequery(env: Env, stageDir: String, f: FilterOptions, sp: Spans,
      filesRead: mutable.ArrayBuffer[Long]): Digest = sp.span("requery") {
    val staged = sp.span("sink") {
      val read = ParquetStage.read(env.spark, stageDir).drop("event_date")
      val forced = force(read)
      filesRead += Scans.filesRead(read)
      forced
    }
    val (_, scored) = scoreLayers(env, staged, sp)
    queryAndSink(scored, f, sp)._2
  }

  def stageRequery(env: Env, corpus: Corpus, work: String, seed: Long, seconds: Double,
      trace: Boolean, res: Result): Unit = {
    // the raw-text side of the correctness check below; running it first
    // also lets the JIT settle, so the store writes are timed warm
    val raw = layeredTriage(env, corpus.paths, work, FilterOptions(), NoSpans).scored

    // the store written twice, to fresh directories: the first write is an
    // untimed warm-up (it is the slower one, and timing it doubled the
    // spread of `first_s`); `first_s` is the second write, which the
    // re-queries read
    res.attempted += 2
    Pipeline.stage(env.spark, corpus.paths, s"$work/stage_warmup")
    val stageDir = s"$work/stage"
    val t0 = System.nanoTime()
    Pipeline.stage(env.spark, corpus.paths, stageDir)
    res.put("first_s", secs(t0), "s")

    val filters = requeryFilters(env, seed, 5000, corpus.startEpoch)
    val times = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.ArrayBuffer.empty[Digest]
    val budget = if (trace) seconds / 2 else seconds
    val loopStart = System.nanoTime()
    // whole rounds, so every run times each shape equally often
    while (times.isEmpty || times.size % Shapes != 0 || secs(loopStart) < budget) {
      val t = System.nanoTime()
      res.attempted += 1
      digests += requery(env, stageDir, filters(times.size))
      times += secs(t)
    }
    res.put("warm_s", median(times.toSeq), "s")
    tail(times.toSeq, res)
    res.put("warm_n", times.size.toDouble, "count")

    // correctness, outside the timed region: every distinct filter must
    // give the same rows over the store as over a raw-text pass of the
    // same corpus (the layered pass, which triage_raw checks against the
    // unsplit Pipeline calls), and the store's row count goes to run.py's
    // manifest check
    val seen = mutable.HashSet.empty[FilterOptions]
    filters.take(digests.size).zip(digests).foreach { case (f, d) =>
      if (seen.add(f)) {
        val want = display(Filters(raw, f, col("_row_id")))
        res.check(want == d, s"requery $f: store gives $d, raw text gives $want")
      }
    }
    dropCheckpoints(env.spark)
    res.put("sink.rows_staged", ParquetStage.read(env.spark, stageDir).count().toDouble, "count")

    if (trace) {
      val tr = new Tracer(env.spark.sparkContext)
      val tracedDir = s"$work/stage_traced"
      val filesRead = mutable.ArrayBuffer.empty[Long]
      tr.span("stage") {
        val (parsed, _) = sourcesLayer(env, corpus.paths, work, tr, errorChannel = false)
        val sessioned = sessionLayer(normLayer(parsed, strict = false, tr), tr)
        tr.span("sink")(Pipeline.writeStageChecked(sessioned, tracedDir))
      }
      dropCheckpoints(env.spark)
      val walls = filters.take(Shapes).zipWithIndex.map { case (f, i) =>
        val t = System.nanoTime()
        val d = layeredRequery(env, tracedDir, f, tr, filesRead)
        val w = secs(t)
        if (i < digests.size && d != digests(i))
          res.failures += s"traced requery $i result $d != ${digests(i)}"
        dropCheckpoints(env.spark)
        w
      }
      traceReport(tr.finish(), work, res)
      res.put("trace.overhead_frac",
        median(walls) / median(times.take(Shapes).toSeq) - 1, "ratio")
      val (files, bytes) = partFiles(stageDir)
      res.put("sink.files_written", files.toDouble, "count")
      res.put("sink.bytes_written", bytes.toDouble, "bytes")
      res.put("sink.files_read", filesRead.sum.toDouble / filesRead.size, "count")
    }
  }

  def partFiles(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val parts = s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
      (parts.size.toLong, parts.map(p => Files.size(p)).sum)
    } finally s.close()
  }

  // ------------------------------------------------------------- the mix

  def mixOrder(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(MixQueries)

  /** One pass over the mix that writes each result to `out`. */
  def mixPass(env: Env, docs: String, out: String, order: Seq[String], sp: Spans,
      res: Result): Unit = {
    val spark = env.spark
    sp.span("mix_pass")(order.foreach { q =>
      spark.catalog.clearCache()
      res.attempted += 1
      sp.span(s"mix.$q")(SparkEntry.queries(q)(spark, docs).write.parquet(s"$out/$q"))
    })
  }

  /** Each query's DuckDB oracle SQL (`SparkEntry.oracleSql`, and the
    * generated ones for q65/q131) beside its result, for run.py's oracle
    * comparison. */
  def writeOracles(env: Env, docs: String, out: String, order: Seq[String]): Unit = {
    val oracles = SparkEntry.oracleSql ++ Map(
      "q65_curation_pipeline" -> OracleGen.curationOracle(env.spark, docs),
      "q131_crawl_corpus" -> OracleGen.crawlCorpusOracle(env.spark, docs))
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      order.map(q => s"${Json.str(q)}: ${Json.str(oracles(q))}").mkString("{", ",", "}"))
  }

  // -------------------------------------------------------------- tracing

  /** Per-layer totals over the traced region, plus the spans file. */
  def traceReport(spans: Seq[Tracer.SpanStats], work: String, res: Result): Unit = {
    val names = (Layers ++ MixQueries.map("mix." + _)).toSet
    val layers = spans.filter(s => names(s.name))
    layers.groupBy(_.name).foreach { case (n, ss) =>
      res.put(s"$n.self_s", ss.map(_.selfNs).sum / 1e9, "s")
      res.put(s"$n.driver_gap_s", ss.map(_.gapNs).sum / 1e9, "s")
      res.put(s"$n.cpu_s", ss.map(_.cpuNs).sum / 1e9, "s")
      res.put(s"$n.shuffle_bytes", ss.map(_.shuffleBytes).sum.toDouble, "bytes")
      res.put(s"$n.max_task_s", ss.map(_.maxTaskMs).max / 1e3, "s")
      res.put(s"$n.tasks", ss.map(_.tasks).sum.toDouble, "count")
    }
    val roots = spans.filter(_.parent < 0)
    val wall = roots.map(s => s.endNs - s.startNs).sum / 1e9
    val inLayers = layers.map(_.selfNs).sum / 1e9
    res.put("trace.wall_s", wall, "s")
    res.put("trace.layers_self_s", inLayers, "s")
    res.put("trace.unattributed_s", wall - inLayers, "s")
    Files.writeString(Paths.get(work, "spans.json"), spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_s":${s.startNs / 1e9},"end_s":${s.endNs / 1e9},"self_s":${s.selfNs / 1e9},""" +
        s""""driver_gap_s":${s.gapNs / 1e9},"jobs":${s.jobs},"tasks":${s.tasks},""" +
        s""""cpu_s":${s.cpuNs / 1e9},"shuffle_bytes":${s.shuffleBytes},""" +
        s""""max_task_s":${s.maxTaskMs / 1e3}}"""
    }.mkString("[\n", ",\n", "\n]\n"))
  }

  /** A two-layer toy with known jobs and tasks: span "a" runs one job of
    * 3 tasks, span "b" one job of 5 tasks and then sleeps 300 ms with no
    * job, so its driver gap is at least that. Each span's wall time is
    * also taken by a timer outside the tracer, which the span's times
    * must agree with. */
  def selfTest(kind: String, work: String, res: Result): Unit = {
    require(kind == "spans", s"unknown self test $kind")
    val spark = session(2, work)
    try {
      val sc = spark.sparkContext
      val tr = new Tracer(sc)
      val wallNs = mutable.HashMap.empty[String, Long]
      def timed(name: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        tr.span(name)(body)
        wallNs(name) = System.nanoTime() - t0
      }
      timed("toy") {
        timed("a")(sc.parallelize(1 to 300, 3).map(_ * 2).count())
        timed("b") {
          sc.parallelize(1 to 500, 5).map(_ + 1).count()
          Thread.sleep(300)
        }
      }
      sc.parallelize(1 to 10, 2).count() // outside any span
      val spans = tr.finish().map(s => s.name -> s).toMap
      val (a, b, toy) = (spans("a"), spans("b"), spans("toy"))
      def check(ok: Boolean, what: => String): Unit = {
        res.attempted += 1
        res.check(ok, what)
      }
      check(a.jobs == 1 && a.tasks == 3, s"span a: $a")
      check(b.jobs == 1 && b.tasks == 5, s"span b: $b")
      check(toy.jobs == 0 && toy.tasks == 0, s"span toy: $toy")
      check(b.gapNs >= 300000000L, s"span b gap ${b.gapNs} < 300 ms")
      check(a.gapNs < a.selfNs && a.selfNs > 0, s"span a times: $a")
      // a span lies inside its outside timer, and within 10 ms of it
      Seq(a, b, toy).foreach { s =>
        val slack = wallNs(s.name) - (s.endNs - s.startNs)
        check(slack >= 0 && slack < 10000000L, s"span ${s.name} wall is $slack ns off its timer")
      }
      // the root's own time is the harness time between "a" and "b"
      val ownNs = wallNs("toy") - wallNs("a") - wallNs("b")
      check(math.abs(toy.selfNs - ownNs) < 10000000L,
        s"span toy self time ${toy.selfNs} ns; outside timers give $ownNs ns")
    } finally spark.stop()
  }

  // ---------------------------------------------------------------- misc

  /** Highest percentile of `xs` with at least 10 samples beyond it
    * (the maximum when there are fewer than 20 samples). */
  def tail(xs: Seq[Double], res: Result): Unit = {
    val n = xs.size
    val pct = Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10)
      .getOrElse(100.0)
    val sorted = xs.sorted
    val idx = math.min(n - 1, math.ceil(pct / 100 * n).toInt - 1).max(0)
    res.put("tail_s", sorted(idx), "s")
    res.put("tail_pct", pct, "pct")
  }

  /** graft.Bench's box calibration probe (fixed-work integer mixing,
    * single-threaded and on every core), recorded ungated per run. */
  def calibrate(res: Result): Unit = {
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
    mixWork(1000000L)
    val t1 = System.nanoTime()
    val sink1 = mixWork(400000000L)
    res.put("calib.single_thread_s", secs(t1), "s")
    val cores = Runtime.getRuntime.availableProcessors()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val t2 = System.nanoTime()
    val sink2 = (1 to cores).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
      override def call(): Long = mixWork(400000000L)
    })).map(_.get()).sum
    res.put("calib.all_cores_s", secs(t2), "s")
    pool.shutdown()
    if (sink1 + sink2 == 42L) System.err.println("") // keep the work live
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-free digest of rendered CSV text (row order among timestamp
    * ties is not fixed by the engine's sort). */
  def linesHash(text: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    text.split("\n").sorted.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def writeResult(res: Result, out: String): Unit = {
    val ms = res.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val fails = res.failures.map(Json.str).mkString("[", ", ", "]")
    Files.writeString(Paths.get(out),
      s"""{"attempted": ${res.attempted}, "failures": $fails, "metrics": $ms}""")
  }
}

/** The largest heap occupancy right after any garbage collection of the
  * run: the data the program keeps live, whatever the heap's size. */
object HeapWatch {
  @volatile var maxAfterGcBytes = 0L

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapWatch.synchronized { maxAfterGcBytes = math.max(maxAfterGcBytes, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
