package graft.cli

import scala.annotation.tailrec

import org.apache.spark.sql.functions.col

import graft.Pipeline
import graft.query.FilterOptions
import graft.rules.{GraftConfig, RuleEngine}
import graft.sink.{EmailSink, Renderer}
import graft.sources.LogSources
import graft.util.LocalSpark

/** CLI entry point mirroring the reference's argparse surface
  * (reference triage.py:11-224). The CLI *is* the query language: every
  * flag is one conjunct of the filter predicate (SURVEY §2.2).
  *
  * Usage: Triage --path <file-or-dir> [--path ...] [flags]
  */
object Triage {

  final case class Args(
      paths: Vector[String] = Vector.empty,
      stageDir: Option[String] = None,
      fromStage: Option[String] = None,
      config: Option[String] = None,
      rules: Option[String] = None,
      shells: Option[String] = None,
      timeOffset: Long = 0,
      clusterOff: Boolean = false,
      csv: Boolean = false,
      noColour: Boolean = false,
      emailTo: Option[String] = None,
      limit: Int = Args.DefaultLimit,
      filters: FilterOptions = FilterOptions())

  object Args {
    /** Default driver-side row cap for the terminal/CSV sinks. The
      * reference prints everything (pandas holds the whole frame
      * anyway); at engine scale an unbounded `collect()` is a driver
      * OOM, so display is bounded unless the user passes `--limit 0`.
      */
    val DefaultLimit = 100000
  }

  @tailrec
  private[cli] def parse(rest: List[String], a: Args): Args = rest match {
    case Nil => a
    case "--path" :: v :: t => parse(t, a.copy(paths = a.paths :+ v))
    case "--stage" :: v :: t => parse(t, a.copy(stageDir = Some(v)))
    case "--from-stage" :: v :: t => parse(t, a.copy(fromStage = Some(v)))
    case "--config" :: v :: t => parse(t, a.copy(config = Some(v)))
    case "--rules" :: v :: t => parse(t, a.copy(rules = Some(v)))
    case "--shells" :: v :: t => parse(t, a.copy(shells = Some(v)))
    case "--time-offset" :: v :: t => parse(t, a.copy(timeOffset = v.toLong))
    case "--cluster-off" :: t => parse(t, a.copy(clusterOff = true))
    case "--csv" :: t => parse(t, a.copy(csv = true))
    // reference triage.py:62-65: -o/--output-format csv|table
    case ("-o" | "--output-format") :: v :: t => v match {
      case "csv" => parse(t, a.copy(csv = true))
      case "table" => parse(t, a.copy(csv = false))
      case other => throw new IllegalArgumentException(
        s"--output-format must be csv or table, got: $other")
    }
    case "--no-colour" :: t => parse(t, a.copy(noColour = true))
    case "--email" :: v :: t => parse(t, a.copy(emailTo = Some(v)))
    case "--limit" :: v :: t => parse(t, a.copy(limit = v.toInt))
    case "--start-time" :: v :: t => parse(t, a.copy(filters = a.filters.copy(startTime = Some(v))))
    case "--end-time" :: v :: t => parse(t, a.copy(filters = a.filters.copy(endTime = Some(v))))
    case "--risk-score" :: v :: t => parse(t, a.copy(filters = a.filters.copy(riskScore = v.toDouble)))
    case "--request-count" :: v :: t => parse(t, a.copy(filters = a.filters.copy(requestCount = v.toLong)))
    case "--status" :: v :: t => parse(t, a.copy(filters = a.filters.copy(statusInclude = ints(v))))
    case "--ignore-status" :: v :: t => parse(t, a.copy(filters = a.filters.copy(statusIgnore = ints(v))))
    case "--method" :: v :: t => parse(t, a.copy(filters = a.filters.copy(methodInclude = strs(v))))
    case "--ignore-method" :: v :: t => parse(t, a.copy(filters = a.filters.copy(methodIgnore = strs(v))))
    case "--uripath-keyword" :: v :: t => parse(t, a.copy(filters = a.filters.copy(uriInclude = strs(v))))
    case "--ignore-uripath-keyword" :: v :: t => parse(t, a.copy(filters = a.filters.copy(uriIgnore = strs(v))))
    case "--all-extension" :: t => parse(t, a.copy(filters = a.filters.copy(allExtension = true)))
    // reference triage.py:160-166: REPLACES the config's static-extension
    // ignore list (the config default applies only when the flag is absent)
    case "--ignore-extension" :: v :: t => parse(t, a.copy(filters = a.filters.copy(extensionIgnore = strs(v))))
    case "--ip" :: v :: t => parse(t, a.copy(filters = a.filters.copy(ipInclude = strs(v))))
    case "--ignore-ip" :: v :: t => parse(t, a.copy(filters = a.filters.copy(ipIgnore = strs(v))))
    case "--user-agent" :: v :: t => parse(t, a.copy(filters = a.filters.copy(uaInclude = strs(v))))
    case "--ignore-user-agent" :: v :: t => parse(t, a.copy(filters = a.filters.copy(uaIgnore = strs(v))))
    case "--referrer" :: v :: t => parse(t, a.copy(filters = a.filters.copy(refInclude = strs(v))))
    case "--ignore-referrer" :: v :: t => parse(t, a.copy(filters = a.filters.copy(refIgnore = strs(v))))
    case "--min-size" :: v :: t => parse(t, a.copy(filters = a.filters.copy(minSize = Some(v.toLong))))
    case "--max-size" :: v :: t => parse(t, a.copy(filters = a.filters.copy(maxSize = Some(v.toLong))))
    case "--tool-focus" :: t => parse(t, a.copy(filters = a.filters.copy(toolsPresent = true)))
    case "--cluster-id" :: v :: t => parse(t, a.copy(filters = a.filters.copy(clusterIdInclude = longs(v))))
    case "--ignore-cluster-id" :: v :: t => parse(t, a.copy(filters = a.filters.copy(clusterIdIgnore = longs(v))))
    case other :: _ => throw new IllegalArgumentException(s"Unknown argument: $other")
  }

  private def strs(v: String): Seq[String] = v.split(",").toSeq.filter(_.nonEmpty)
  private def ints(v: String): Seq[Int] = strs(v).map(_.toInt)
  private def longs(v: String): Seq[Long] = strs(v).map(_.toLong)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    require(args.paths.nonEmpty || args.fromStage.nonEmpty,
      "--path or --from-stage is required")
    require(args.fromStage.isEmpty || args.timeOffset == 0,
      "--time-offset cannot be combined with --from-stage: normalization " +
        "(including the offset) ran when the stage was written. Re-stage " +
        "with the desired offset instead.")
    require(args.limit >= 0, "--limit must be >= 0 (0 = unbounded)")

    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "WARN",
      Seq("spark.app.name" -> "graft-triage"))

    try {
      val config0 = args.config.map(GraftConfig.load).getOrElse(GraftConfig.default)
      val config = config0.copy(
        rulesPath = args.rules.getOrElse(config0.rulesPath),
        webshellPath = args.shells.getOrElse(config0.webshellPath))
      val ruleSet = RuleEngine.loadRules(config.rulesPath)
      val webshells = GraftConfig.loadWebshells(config.webshellPath)

      // default extension-ignore + authorized-scanner ip-ignore come from
      // config, like triage.py:248-263 wiring
      val filters = args.filters.copy(
        extensionIgnore =
          if (args.filters.extensionIgnore.nonEmpty) args.filters.extensionIgnore
          else config.ignoreExtensions,
        ipIgnore =
          if (args.filters.ipIgnore.nonEmpty) args.filters.ipIgnore
          else config.ignoreIp)

      val normalized = args.fromStage match {
        case Some(stage) =>
          // parse + normalize already happened when the stage was
          // written; re-query straight off the partitioned store
          graft.sink.ParquetStage.read(spark, stage).drop("event_date")
        case None =>
          // S7 error side channel (reference writes errors.log + reports
          // the parsed count, parser.py:121-124)
          val parsedLogs = LogSources.parseLogs(spark, args.paths)
          val errCount = parsedLogs.errors.count()
          if (errCount > 0) {
            // GRAFT_OUT_DIR keeps run artifacts out of the CWD (and the
            // repo); the reference's append-in-CWD behavior grows a
            // committed file.
            val outDir = sys.env.getOrElse("GRAFT_OUT_DIR", System.getProperty("java.io.tmpdir"))
            val errPath = java.nio.file.Paths.get(outDir, "errors.log").toString
            System.err.println(s"[*] $errCount unparseable lines; writing to $errPath")
            val errs = parsedLogs.errors.limit(10000).collect()
            val w = new java.io.FileWriter(errPath, true)
            try errs.foreach(r => w.write(s"Failed to parse [${r.getString(0)}]: ${r.getString(1)}\n"))
            finally w.close()
          }
          args.stageDir match {
            case Some(stage) =>
              // strict C10 check rides the stage write (observe metric)
              // instead of normalize's eager check, which above the byte
              // guard is a second scan of the text
              val norm = Pipeline.normalize(parsedLogs.parsed,
                Pipeline.Options(timeOffsetSeconds = args.timeOffset,
                  strictTimestamps = false))
              Pipeline.writeStageChecked(norm, stage)
              println(s"[*] Staged normalized store to $stage")
              graft.sink.ParquetStage.read(spark, stage).drop("event_date")
            case None => Pipeline.normalize(parsedLogs.parsed,
              Pipeline.Options(timeOffsetSeconds = args.timeOffset))
          }
      }
      val scored = Pipeline.score(normalized, config, ruleSet, webshells)
      val out = graft.query.Filters(scored, filters, col("_row_id"))

      val display = Renderer.withMethodPath(out)

      // Unbounded CSV to stdout streams partition-at-a-time
      // (toLocalIterator) — constant driver memory. Every other shape
      // materializes: the table layout needs all rows for column widths,
      // and the bounded default (--limit, Args.DefaultLimit) caps that
      // collect so the driver survives engine-scale outputs.
      if (args.limit == 0 && args.csv && args.emailTo.isEmpty) {
        import scala.jdk.CollectionConverters._
        val n = Renderer.renderCsvStream(display.toLocalIterator().asScala, print)
        if (n == 0) println("<EMPTY>")
      } else {
        val (rows, truncated) =
          if (args.limit == 0) {
            // table/email layouts need every row on the driver (column
            // widths / one attachment string) — unlike the streaming CSV
            // path above, --limit 0 here really does materialize
            System.err.println("[*] --limit 0 with table or email output " +
              "materializes the full result on the driver; use CSV output " +
              "for constant-memory streaming.")
            import scala.jdk.CollectionConverters._
            (display.toLocalIterator().asScala.toVector: Seq[org.apache.spark.sql.Row],
              false)
          } else {
            val fetch = if (args.limit == Int.MaxValue) args.limit else args.limit + 1
            val r = display.limit(fetch).collect().toSeq
            if (r.size > args.limit) {
              System.err.println(s"[*] Output truncated to ${args.limit} rows " +
                "(raise --limit, or --limit 0 for unbounded).")
              (r.take(args.limit), true)
            } else (r, false)
          }
        emitRows(rows, args, config, truncated)
      }
    } finally spark.stop()
  }

  private def emitRows(rows: Seq[org.apache.spark.sql.Row], args: Args,
      config: GraftConfig, truncated: Boolean): Unit = {
    val text =
      if (args.csv) Renderer.renderCsv(rows)
      else Renderer.renderTable(rows, clusterEnabled = !args.clusterOff,
        colour = !args.noColour)

    args.emailTo match {
      case Some(to) =>
        val mailDir = java.nio.file.Paths.get(
          sys.env.getOrElse("GRAFT_OUT_DIR", System.getProperty("java.io.tmpdir")),
          "graft-mail").toString
        // a truncated attachment must say so IN the message — the
        // recipient never sees this process's stderr
        val body =
          if (truncated) config.emailBody +
            s"\n[NOTE] Results truncated to the first ${args.limit} rows; " +
            "re-run with --limit 0 for the full set."
          else config.emailBody
        // transport: the reference always opens a real SMTP socket
        // (utils/email.py:55); this sandbox has no egress, so the
        // file transport is the default and GRAFT_SMTP_SEND=1 opts
        // into the real socket path (EmailSink.SmtpTransport).
        val transport: EmailSink.Transport =
          if (sys.env.get("GRAFT_SMTP_SEND").contains("1")) new EmailSink.SmtpTransport()
          else new EmailSink.FileTransport(mailDir)
        EmailSink.send(transport,
          config.emailSmtpServer, config.emailSmtpPort, config.emailSender,
          to, "WebLogHunter results", body, Renderer.renderCsv(rows))
        if (sys.env.get("GRAFT_SMTP_SEND").contains("1"))
          println(s"[*] Emailed results to $to via ${config.emailSmtpServer}")
        else println(s"[*] Wrote email message for $to to $mailDir/")
      case None =>
        // renderCsv text carries its own trailing newline (matching the
        // streaming path byte-for-byte); the table and <EMPTY> do not
        if (args.csv && text != "<EMPTY>") print(text) else println(text)
    }
  }
}
