package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rules.{GraftConfig, RuleEngine, ToolSignature}
import graft.sources.LogSources
import graft.util.LocalSpark

/** Dump the engine state after the full pipeline over the parity fixture
  * logs, in the exact row/column/format shape `tools/ref_golden.py`
  * dumps from the patched REFERENCE implementation — byte-equality of
  * the two CSVs is the strongest parity evidence we can produce without
  * network access (tools/parity_check.py orchestrates).
  */
object ParityDump {
  def main(args: Array[String]): Unit = {
    val Array(logDir, outCsv) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = LocalSpark.session(s"local[$cpus]", cpus, "WARN")

    val config = GraftConfig.default.copy(
      toolSignatures = Seq(ToolSignature(
        "DS01", "DirSearch", "DirSearch using default dictionary (dicc.txt).",
        Seq("/.access", ".bak_0.log", ".chef/config.rb"), 7200)))
    val rules = RuleEngine.loadRules("/tmp/graft_parity/rules.yaml")
    val shells = GraftConfig.loadWebshells("/tmp/graft_parity/shells.txt")

    val parsed = LogSources.parseLogs(spark, Seq(logDir)).parsed
    val normalized = Pipeline.normalize(parsed)
    val scored = Pipeline.score(normalized, config, rules, shells)

    val cols = Seq("source", "timestamp", "ip", "method", "request_uri",
      "status", "resp_size", "user_agent", "referrer", "cluster",
      "request_count", "uri_risk", "method_risk", "status_risk",
      "risk_score", "rule_applied", "tool")

    // pandas to_csv QUOTE_MINIMAL: quote when the field contains the
    // delimiter, the quote char, or a line terminator; double inner quotes.
    // (Renderer.escapeCsv mirrors the REFERENCE's csv escape, which skips
    // \r — here we must match pandas byte-for-byte.)
    def esc(field: String): String =
      if (field.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + field.replace("\"", "\"\"") + "\""
      else field

    // ref_golden sorts by the COLUMN TUPLE (pandas sort_values), not by the
    // serialized line — with quoting those orders can differ, so sort the
    // field seqs and only then escape+join.
    import scala.math.Ordering.Implicits.seqOrdering
    def writeCsv(header: Seq[String], rows: Seq[Seq[String]], path: String): Int = {
      val body = rows.sorted.map(_.map(esc).mkString(","))
      Files.write(Paths.get(path),
        (header.mkString(",") + "\n" + body.mkString("\n") + "\n").getBytes("UTF-8"))
      body.length
    }

    // every column as its string cast, null as the empty field
    def fields(df: DataFrame, names: Seq[String]): Seq[Seq[String]] =
      df.select(names.map(c => col(c).cast("string")): _*).collect()
        .map(r => names.indices.map(i => if (r.isNullAt(i)) "" else r.getString(i))).toSeq

    def dump(df: DataFrame, path: String): Unit = {
      val out = fields(
        df.withColumn("risk_score", format_string("%.4f", col("risk_score"))), cols)
      val n = writeCsv(cols, out, path)
      println(s"[parity_dump] wrote $n rows to $path")
    }

    dump(scored, outCsv)

    // filter-surface parity (same combo as ref_golden.py)
    dump(graft.query.Filters(scored, graft.query.FilterOptions(
      startTime = Some("2025-04-21 10:00:00"),
      endTime = Some("2025-04-21 12:30:00"),
      statusIgnore = Seq(302),
      methodIgnore = Seq("HEAD"),
      minSize = Some(20L),
      extensionIgnore = GraftConfig.defaultIgnoreExtensions,
      uaIgnore = Seq("curl")), col("_row_id")),
      outCsv.replace(".csv", "_filtered.csv"))

    // F13 tool-focus parity
    dump(graft.query.Filters(scored,
      graft.query.FilterOptions(toolsPresent = true), col("_row_id")),
      outCsv.replace(".csv", "_toolfocus.csv"))

    // C11 time-offset parity: -3600s skew correction
    val shifted = Pipeline.normalize(parsed,
      Pipeline.Options(timeOffsetSeconds = -3600))
    val offCols = Seq("source", "timestamp", "ip", "request_uri", "utc_str",
      "cluster", "request_count")
    val offRows = fields(shifted.withColumn("utc_str",
      concat(date_format(col("utc_timestamp"), "yyyy-MM-dd HH:mm:ss"), lit("+00:00"))), offCols)
    val nOff = writeCsv(offCols, offRows, outCsv.replace(".csv", "_offset.csv"))
    println(s"[parity_dump] wrote $nOff rows to offset dump")

    spark.stop()
  }
}
