package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerInterop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cli.GoldenTableSpec
import graft.query.{FilterOptions, Filters}
import graft.rules.RuleEngine
import graft.sink.Renderer
import graft.sources.LogSources

/** The triage pass's two materialized intermediates
  * (`operators.Widen.materialize` in `LineParser.parse` and
  * `Pipeline.normalize`): under the byte guard each input is scanned
  * once per pass, and with the guard forced shut
  * (`spark.graft.widen.maxBytes=0`) the lazy fallback gives the same
  * CSV, error count and strict-timestamp error.
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
  private def scansDuring(body: => Unit): Seq[String] = {
    val scans = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
          s"${s.relation.fileFormat} ${s.relation.location.rootPaths.mkString(",")}"
        }.foreach(scans.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      GraftListenerInterop.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    scans.asScala.toSeq
  }

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
