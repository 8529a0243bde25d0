package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.{GraftSparkSpec, Pipeline}
import graft.query.{FilterOptions, Filters}
import graft.rules.{GraftConfig, RuleEngine, ToolSignature}
import graft.sink.Renderer
import graft.sources.LogSources

/** End-to-end golden for the terminal sink (K1): fixture log ->
  * parse -> normalize -> score -> filter -> renderTable, compared
  * byte-for-byte against a committed golden. Covers the whole
  * user-visible chain in one pin (formats, column auto-drop,
  * truncation/wrap, cluster highlight markers — minus ANSI colour,
  * disabled for a stable artifact).
  *
  * Regenerate after INTENDED rendering changes with
  * `GRAFT_REGEN_GOLDEN=1 sbt "testOnly graft.cli.GoldenTableSpec"`
  * and review the diff like any other code change.
  */
class GoldenTableSpec extends GraftSparkSpec {
  import GoldenTableSpec._

  private val goldenPath = "src/test/resources/golden/cli_table.txt"

  test("golden CLI table output (end-to-end, no colour)") {
    val dir = Files.createTempDirectory("graft_golden").toFile
    val log = new java.io.File(dir, "access.log")
    Files.write(log.toPath, (fixtureLines.mkString("\n") + "\n").getBytes("UTF-8"))

    val parsed = LogSources.parseLogs(spark, Seq(log.getAbsolutePath)).parsed
    val normalized = Pipeline.normalize(parsed)
    val scored = Pipeline.score(normalized, config,
      RuleEngine.parseRules(rulesYaml), webshells)
    val out = Filters(scored, FilterOptions(), col("_row_id"))
    val rows = Renderer.withMethodPath(out).collect().toSeq
    val table = Renderer.renderTable(rows, clusterEnabled = true, colour = false)

    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) {
      Files.createDirectories(Paths.get(goldenPath).getParent)
      Files.write(Paths.get(goldenPath), table.getBytes("UTF-8"))
      info(s"regenerated $goldenPath")
    } else {
      val golden = new String(Files.readAllBytes(Paths.get(goldenPath)), "UTF-8")
      assert(table == golden,
        s"rendered table diverges from $goldenPath — if the change is " +
          "intended, regenerate with GRAFT_REGEN_GOLDEN=1 and review the diff.\n" +
          s"ACTUAL:\n$table")
    }
  }
}

/** The golden fixture, shared with the specs that drive the same
  * triage pass ([[graft.MaterializeSpec]]).
  */
object GoldenTableSpec {
  val fixtureLines = Seq(
    // session 1 for .7: repeats (request_count), then a webshell POST
    """203.0.113.7 - - [21/Apr/2025:10:00:00 +0000] "GET /index.html HTTP/1.1" 200 512 "-" "Mozilla/5.0"""",
    """203.0.113.7 - - [21/Apr/2025:10:00:10 +0000] "GET /index.html HTTP/1.1" 200 512 "-" "Mozilla/5.0"""",
    """203.0.113.7 - - [21/Apr/2025:10:00:20 +0000] "POST /upload/shell.php?cmd=whoami HTTP/1.1" 200 801 "-" "Mozilla/5.0"""",
    // gap > 60s -> session 2, traversal attempt
    """203.0.113.7 - - [21/Apr/2025:10:05:00 +0000] "GET /%2e%2e/etc/passwd HTTP/1.1" 404 100 "-" "Mozilla/5.0"""",
    // second ip: scanner UA + fofa referrer, IIS format line
    """198.51.100.9 - - [21/Apr/2025:10:06:00 +0000] "GET /db/dump.sql HTTP/1.1" 200 9000 "https://fofa.info/x" "sqlmap/1.7"""",
    """2025-04-21 10:06:30 W3SVC1 GET /robots.txt - 443 - 198.51.100.9 Mozilla/5.0+(Windows) - 200 0 0 64""",
    // tool sequence within one session (DirSearch keywords)
    """192.0.2.99 - - [21/Apr/2025:12:00:00 +0000] "GET /.access HTTP/1.1" 404 30 "-" "Mozilla/5.0"""",
    """192.0.2.99 - - [21/Apr/2025:12:00:25 +0000] "GET /x.bak_0.log HTTP/1.1" 404 30 "-" "Mozilla/5.0"""",
    """192.0.2.99 - - [21/Apr/2025:12:00:50 +0000] "GET /.chef/config.rb HTTP/1.1" 404 30 "-" "Mozilla/5.0"""")

  val rulesYaml =
    """- title: Whoami Execution
      |  detection: { selection: { request_uri|contains: whoami } }
      |  tags: [ { risk_score: 85.0 } ]
      |- title: Fofa Referrer
      |  detection: { selection: { referrer|startswith: "https://fofa" } }
      |  tags: [ { risk_score: 67.5 } ]""".stripMargin

  /** The config the golden pass runs with: defaults plus one
    * DirSearch signature the fixture's third IP completes. */
  val config: GraftConfig = GraftConfig.default.copy(toolSignatures = Seq(ToolSignature(
    "DS01", "DirSearch", "DirSearch using default dictionary (dicc.txt).",
    Seq("/.access", ".bak_0.log", ".chef/config.rb"), 7200)))

  val webshells: Set[String] = Set("shell.php")
}
