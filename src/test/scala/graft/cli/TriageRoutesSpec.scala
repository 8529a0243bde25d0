package graft.cli

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.GraftSparkSpec

/** `Triage.run`'s three routes over [[GoldenTableSpec]]'s fixture: the
  * raw-text pass, `--stage` (stage, then query the store) and
  * `--from-stage` (query a store) print the same CSV rows, and the
  * `--stage` route writes the store from the lazy normalized frame.
  */
class TriageRoutesSpec extends GraftSparkSpec {

  /** The sorted CSV lines `Triage.run` prints for `argv` (the `[*]`
    * status lines dropped). */
  private def csvLines(argv: Seq[String]): Seq[String] = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(Triage.run(spark, Triage.parse(argv.toList, Triage.Args())))
    out.toString("UTF-8").linesIterator.filterNot(_.startsWith("[*]")).toSeq.sorted
  }

  test("raw, --stage and --from-stage print the same CSV rows") {
    val dir = Files.createTempDirectory("graft_triage_routes")
    val logs = Files.createDirectory(dir.resolve("logs"))
    Files.write(logs.resolve("access.log"),
      (GoldenTableSpec.fixtureLines.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(dir.resolve("rules.yaml"), GoldenTableSpec.rulesYaml.getBytes("UTF-8"))
    Files.write(dir.resolve("shells.txt"),
      GoldenTableSpec.webshells.mkString("", "\n", "\n").getBytes("UTF-8"))
    val common = Seq("--rules", dir.resolve("rules.yaml").toString,
      "--shells", dir.resolve("shells.txt").toString, "--csv")
    val path = Seq("--path", logs.toString)
    val store = dir.resolve("store").toString

    val raw = csvLines(path ++ common)
    var staged = Seq.empty[String]
    val checkpointed = checkpointedDuring {
      staged = csvLines(path ++ common ++ Seq("--stage", store))
    }
    val fromStage = csvLines(common ++ Seq("--from-stage", store))
    // the header plus one row per fixture line
    assert(raw.size == GoldenTableSpec.fixtureLines.size + 1, raw)
    assert(staged == raw)
    assert(fromStage == raw)
    // the parse result and the sessionizer's local ids are checkpointed;
    // the normalized frame (the one with request_count) is not
    assert(checkpointed.nonEmpty)
    assert(!checkpointed.exists(_.contains("request_count")), checkpointed)
  }
}
