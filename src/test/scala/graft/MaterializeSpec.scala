package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Lag, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

import graft.cli.GoldenTableSpec
import graft.norm.Normalizer
import graft.operators.Widen
import graft.query.{FilterOptions, Filters}
import graft.rules.RuleEngine
import graft.sink.Renderer
import graft.sources.LogSources

/** The triage pass's materialized intermediates
  * (`operators.Widen.materialize` in `LineParser.parse`,
  * `Sessionizer.withClusters` and `Pipeline.normalize`): under the byte
  * guard each input is scanned, deduplicated and sessionized once per
  * pass, the stage write reads no normalize checkpoint, and with the
  * guard forced shut (`spark.graft.widen.maxBytes=0`) the lazy fallback
  * gives the same CSV, error count and strict-timestamp error.
  */
class MaterializeSpec extends GraftSparkSpec with AdaptiveSparkPlanHelper {

  private val rules = RuleEngine.parseRules(GoldenTableSpec.rulesYaml)

  /** A log dir holding `lines` as one file; returns the dir. */
  private def logDir(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_materialize")
    Files.write(dir.resolve("access.log"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    dir.toString
  }

  /** One raw triage pass as `cli/Triage` makes it without `--stage`:
    * parse, the error count, normalize, score, filter, CSV render.
    * Returns the CSV, the error count and the normalized frame.
    */
  private def triagePass(paths: Seq[String]): (String, Long, DataFrame) = {
    val logs = LogSources.parseLogs(spark, paths)
    val errors = logs.errors.count()
    val normalized = Pipeline.normalize(logs.parsed)
    val scored = Pipeline.score(normalized, GoldenTableSpec.config, rules,
      GoldenTableSpec.webshells)
    val out = Filters(scored, FilterOptions(), col("_row_id"))
    (Renderer.renderCsv(Renderer.withMethodPath(out).collect().toSeq), errors, normalized)
  }

  private def unguarded[T](body: => T): T = {
    spark.conf.set("spark.graft.widen.maxBytes", "0")
    try body finally spark.conf.unset("spark.graft.widen.maxBytes")
  }

  private def materialized(plan: LogicalPlan): Boolean =
    plan.collectFirst { case r: LogicalRDD => r }.nonEmpty

  private val unparseable = "this line matches no log format"

  test("fallback: guard shut gives the same CSV and error count, nothing materialized") {
    val dir = logDir(GoldenTableSpec.fixtureLines :+ unparseable)
    val (csv, errors, normalized) = triagePass(Seq(dir))
    val (lazyCsv, lazyErrors, lazyNormalized) = unguarded(triagePass(Seq(dir)))
    // each side really took its route
    assert(materialized(normalized.queryExecution.logical))
    assert(!materialized(lazyNormalized.queryExecution.logical))
    assert(errors == 1)
    assert(lazyErrors == errors)
    assert(csv.linesIterator.size == GoldenTableSpec.fixtureLines.size + 1, csv)
    assert(lazyCsv == csv)
  }

  test("fallback: strict-timestamp error is the same on both routes") {
    // matches the apache line regex, but `Foo` is no month
    val badTs = """203.0.113.8 - - [21/Foo/2025:10:00:00 +0000] "GET / HTTP/1.1" 200 1 "-" "x""""
    val dir = logDir(GoldenTableSpec.fixtureLines :+ badTs)
    val e = intercept[IllegalArgumentException](triagePass(Seq(dir)))
    val lazyE = intercept[IllegalArgumentException](unguarded(triagePass(Seq(dir))))
    assert(e.getMessage == "Found timestamps with an unknown or invalid format: " +
      "access.log:'21/Foo/2025:10:00:00 +0000'")
    assert(lazyE.getMessage == e.getMessage)
  }

  /** `n` distinct apache lines shaped like the bench corpus: 400
    * client ips, each in sessions of 20 requests 3 s apart, varied
    * paths and a few 500s. */
  private def corpusLines(n: Int): Seq[String] = (0 until n).map { i =>
    val k = i / 20 % 400
    val ip = s"10.0.${k / 200}.${k % 200}"
    val t = java.time.Instant.ofEpochSecond(1745193600L + i * 3L)
    val ts = java.time.format.DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", java.util.Locale.US)
      .withZone(java.time.ZoneOffset.UTC).format(t)
    s"""$ip - - [$ts] "GET /app/page$i.php?id=${i % 97} HTTP/1.1" ${if (i % 50 == 0) 500 else 200} ${i % 4096} "-" "Mozilla/5.0""""
  }

  private def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("guard routes: bench-sized input materializes both frames, estimates grow in step") {
    val small = logDir(corpusLines(8000))
    // under the default guard both intermediates are checkpointed
    val parsed = LogSources.parseLogs(spark, Seq(small)).parsed
    assert(materialized(parsed.queryExecution.logical))
    assert(materialized(Pipeline.normalize(parsed).queryExecution.logical))
    // planning only: the normalized plan's estimate (two joins in the
    // sessionizer) must stay near the parse result's and grow linearly
    // with the input, so the normalize guard switches off about where
    // the parse guard does, not at some far smaller input
    val noCheck = Pipeline.Options(strictTimestamps = false)
    def estimates(dir: String): (BigInt, BigInt) = unguarded {
      val p = LogSources.parseLogs(spark, Seq(dir)).parsed
      (estimate(p), estimate(Pipeline.normalize(p, noCheck)))
    }
    val (parse8k, norm8k) = estimates(small)
    val (parse32k, norm32k) = estimates(logDir(corpusLines(32000)))
    assert(norm8k <= parse8k * 2, s"normalized $norm8k vs parsed $parse8k")
    assert(norm32k <= parse32k * 2, s"normalized $norm32k vs parsed $parse32k")
    assert(norm32k <= norm8k * 5, s"4x the lines: $norm8k -> $norm32k")
  }

  /** Input relations the file-source scans of every query run while
    * `body` runs read, one entry per scan: format plus root paths. */
  private def scansDuring(body: => Unit): Seq[String] =
    queriesDuring((_, qe) => collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec =>
        s"${s.relation.fileFormat} ${s.relation.location.rootPaths.mkString(",")}"
    })(body)

  test("parse once: a triage pass scans each input relation exactly once") {
    val dir = logDir(GoldenTableSpec.fixtureLines :+ unparseable)
    val csv = Files.createTempFile("graft_splunk", ".csv")
    Files.write(csv, ("_raw\n" + "\"" + GoldenTableSpec.fixtureLines.head.replace("\"", "\"\"") +
      "\"\n").getBytes("UTF-8"))
    val scans = scansDuring(triagePass(Seq(dir, csv.toString)))
    // the csv reader's header probe (one line of the csv read as text,
    // when the frame is defined) is not a pass over the data
    val data = scans.filterNot(s => s.startsWith("Text") && s.endsWith(".csv"))
    val perRelation = data.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(perRelation.size == 2, s"expected the text and csv relations, got $scans")
    assert(perRelation.values.forall(_ == 1), s"scans per relation: $perRelation")
  }

  /** Windows of normalize executed while `body` runs, one entry per
    * execution: "dedup" is the row_number over the normalized `_nk_`
    * keys, "session" the sessionizer's lag over `(source, ip)`. */
  private def normalizeWindowsDuring(body: => Unit): Map[String, Int] = {
    def has(w: WindowExec, f: Expression => Boolean) = w.windowExpression.exists(_.exists(f))
    def keys(w: WindowExec) = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
    queriesDuring((_, qe) => collectWithSubqueries(qe.executedPlan) {
      case w: WindowExec if has(w, _.isInstanceOf[RowNumber]) &&
          keys(w).exists(_.startsWith("_nk_")) => "dedup"
      case w: WindowExec if has(w, _.isInstanceOf[Lag]) && keys(w) == Set("source", "ip") =>
        "session"
    })(body).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  test("dedup and sessionize once: each window runs once per triage pass") {
    val dir = logDir(GoldenTableSpec.fixtureLines :+ unparseable)
    var jobs = 0
    val windows = normalizeWindowsDuring { jobs = countJobs(triagePass(Seq(dir))) }
    // 3 executions of each and 21 jobs when an eager C10 check and
    // both sessionizer branches re-ran them; 19-20 jobs now (AQE's
    // runtime join choice moves the count by one)
    assert(windows == Map("dedup" -> 1, "session" -> 1), s"window executions: $windows")
    assert(jobs <= 20, s"jobs per pass: $jobs")
  }

  test("stage: the store is written from the lazy normalized frame") {
    val dir = logDir(GoldenTableSpec.fixtureLines)
    val store = Files.createTempDirectory("graft_stage").resolve("store").toString
    val checkpointed = checkpointedDuring(Pipeline.stage(spark, Seq(dir), store))
    // the parse result and the sessionizer's local ids are checkpointed,
    // the normalized frame (the one with request_count) is not
    assert(checkpointed.size == 2, checkpointed)
    assert(!checkpointed.exists(_.contains("request_count")), checkpointed)
  }

  test("C10: guard open, guard shut and stage raise the same text") {
    val badTs = Seq(
      """203.0.113.8 - - [21/Foo/2025:10:00:00 +0000] "GET / HTTP/1.1" 200 1 "-" "x"""",
      """198.51.100.9 - - [32/Apr/2025:10:00:00 +0000] "GET /a HTTP/1.1" 200 1 "-" "x"""")
    val dir = logDir(GoldenTableSpec.fixtureLines ++ badTs)
    def normalizeError = intercept[IllegalArgumentException](
      Pipeline.normalize(LogSources.parseLogs(spark, Seq(dir)).parsed)).getMessage
    val open = normalizeError
    val shut = unguarded(normalizeError)
    // the eager check of a layered caller (Normalizer.withUtcTimestamp
    // with strict = true over the deduplicated frame)
    val eager = intercept[IllegalArgumentException] {
      val parsed = LogSources.parseLogs(spark, Seq(dir)).parsed
        .withColumn("_row_id", monotonically_increasing_id())
      Normalizer.withUtcTimestamp(Normalizer.removeDuplicates(parsed, col("_row_id")))
    }.getMessage
    val store = Files.createTempDirectory("graft_stage").resolve("store")
    val staged = intercept[IllegalArgumentException](
      Pipeline.stage(spark, Seq(dir), store.toString)).getMessage
    assert(open.startsWith("Found timestamps with an unknown or invalid format: "), open)
    assert(open.contains("access.log:'21/Foo/2025:10:00:00 +0000'"), open)
    assert(open.contains("access.log:'32/Apr/2025:10:00:00 +0000'"), open)
    assert(shut == open)
    assert(eager == open)
    assert(staged == open)
    assert(!Files.exists(store))
  }

  test("C10: on valid input the observed check runs no query of its own") {
    val parsed = LogSources.parseLogs(spark, Seq(logDir(GoldenTableSpec.fixtureLines))).parsed
    // queries, not jobs: AQE's runtime join choice moves a query's job
    // count by one from run to run
    def queries(opts: Pipeline.Options) =
      queriesDuring((_, _) => Seq(1))(Pipeline.normalize(parsed, opts)).size
    val unchecked = queries(Pipeline.Options(strictTimestamps = false))
    val checked = queries(Pipeline.Options())
    assert(checked == unchecked, s"queries: $unchecked unchecked, $checked checked")
  }

  test("pinned: one checkpoint job, released on return and on throw") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val n = Widen.pinned(spark.range(100).toDF()) { p =>
      assert((persisted -- before).size == 1, "the pin holds one checkpoint")
      p.count()
    }
    assert(n == 100L)
    assert((persisted -- before).isEmpty, "released on return")
    val jobs = countJobs(Widen.pinned(spark.range(100).toDF())(_ => ()))
    assert(jobs == 1, s"jobs: $jobs")
    intercept[IllegalStateException](
      Widen.pinned(spark.range(10).toDF())(_ => throw new IllegalStateException("body failed")))
    assert((persisted -- before).isEmpty, "released on throw")
  }

  test("iterate: each superseded round released, fails closed, nothing pinned after a throw") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val held = scala.collection.mutable.ArrayBuffer.empty[Int]
    val step = (s: DataFrame) => {
      held += (persisted -- before).size
      s.withColumn("id", col("id") + 1)
    }
    val out = Widen.iterate(spark.range(10).toDF(), Seq.fill(4)(step))
    assert(held.toSeq == Seq(1, 1, 1, 1), s"rounds held during each step: $held")
    assert((persisted -- before).size == 1, "only the returned round stays")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (4L until 14L))
    val converging = Widen.iterate(spark.range(10).toDF(), Seq.fill(50)(step),
      Some((_.filter(col("id") < 3).count() == 0, "unreached")))
    assert(converging.agg(org.apache.spark.sql.functions.min("id")).head.getLong(0) == 3L,
      "stops at the first round whose probe holds")
    val before2 = persisted
    val e = intercept[IllegalArgumentException](Widen.iterate(spark.range(10).toDF(),
      Seq.fill(2)(step), Some((_.filter(col("id") < 5).count() == 0, "did not reach 5"))))
    assert(e.getMessage.contains("did not reach 5"))
    assert((persisted -- before2).isEmpty, "nothing pinned when the rounds run out")
    intercept[IllegalStateException](Widen.iterate(spark.range(10).toDF(),
      Seq(step, (_: DataFrame) => throw new IllegalStateException("step failed"))))
    assert((persisted -- before2).isEmpty, "nothing pinned after a throwing step")
  }

  /** A documents table of `(doc_id, text)` rows in a fresh dir, the
    * layout `SparkEntry.curationStage4` reads; returns the dir. */
  private def documentsDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_curation").toString
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("curationStage4: guard shut gives the same (doc_id, lang_pred, text) rows") {
    val prose = Seq(
      "the quick brown fox jumps over the lazy dog and then it runs into the forest to hide",
      "<p>a small team of volunteers cleaned the river bank on a sunny day in the spring</p>",
      "we walked to the market in the morning and bought bread and cheese for the whole week",
      "she said that the train would be late because of the snow that fell during the night",
      "der kleine hund spielt mit dem ball im garten und die kinder lachen laut in der sonne",
      "our pipeline ran a slow hash batch over the logs and it finished after the lunch break")
    val docs = prose.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ Seq(
      (10L, prose.head), // exact duplicate: dedup keeps doc 0
      (11L, "too short to keep"))
    val dir = documentsDir(docs)
    def rows(df: DataFrame) =
      df.select("doc_id", "lang_pred", "text").collect().map(_.toSeq).toSet
    val guarded = SparkEntry.curationStage4(spark, dir)
    val open = unguarded {
      val df = SparkEntry.curationStage4(spark, dir)
      (materialized(df.queryExecution.logical), rows(df))
    }
    // each side really took its route
    assert(materialized(guarded.queryExecution.logical))
    assert(!open._1)
    val kept = rows(guarded)
    assert(kept.map(_.head) == Set(0L, 1L, 2L, 3L, 4L), kept)
    assert(open._2 == kept)
  }
}
