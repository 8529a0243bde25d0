package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2 — log scans (SURVEY §2.1).
  *
  * - Plain files are read with the distributed text source; the `source`
  *   column (reference parser.py:120 — basename of the input file) comes
  *   from the hidden `_metadata.file_name` column, so multi-file reads
  *   stay a single scan.
  * - A path that is a directory contributes every regular file directly
  *   inside it, non-recursively (reference parser.py:85-96 `os.listdir`).
  *   NOTE: the reference only treats `.csv` specially for *top-level file*
  *   paths; inside a directory it tests the DIRECTORY name for `.csv`
  *   (parser.py:91, a latent bug), so csv files found via a directory are
  *   read as raw text. We reproduce that: the Splunk branch applies to
  *   explicitly-listed `.csv` files only.
  * - `.csv` files listed explicitly are Splunk exports: only the `_raw`
  *   column is read (reference parser.py:74-76).
  */
object LogSources {

  /** Expand a user path argument exactly like the reference: file -> that
    * file; directory -> its regular files (non-recursive); else error.
    */
  def expandPaths(paths: Seq[String]): Seq[String] = paths.flatMap { p =>
    val f = new File(p)
    if (f.isFile) Seq(p)
    else if (f.isDirectory)
      f.listFiles().toSeq.filter(_.isFile).map(_.getPath).sorted
    else throw new IllegalArgumentException(s"Path '$p' is not a file or directory.")
  }

  /** Read raw lines from the expanded paths into (value, source). */
  def readLines(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val files = expandPaths(paths)
    // Splunk-csv handling applies only to explicitly-listed .csv files;
    // files expanded from directories are always text (see scaladoc).
    val csvTop = paths
      .filter(p => new File(p).isFile && p.toLowerCase.endsWith(".csv"))
      .distinct
    val textFiles = files.filterNot(csvTop.toSet)

    val branches = Seq.newBuilder[DataFrame]
    if (textFiles.nonEmpty) {
      branches += spark.read.textFile(textFiles: _*)
        .select(col("value"), col("_metadata.file_name").as("source"))
    }
    for (p <- csvTop) {
      // RFC4180 double-quote escaping like pandas read_csv (Spark's csv
      // default escape is backslash, which would mangle quoted log lines)
      branches += spark.read
        .option("header", "true").option("escape", "\"")
        .csv(p)
        .select(col("_raw").cast("string").as("value"),
          lit(new File(p).getName).as("source"))
    }
    val all = branches.result()
    require(all.nonEmpty, "No input files found")
    all.reduce(_ unionByName _)
  }

  /** Scan + parse: the S1..S7 front half of the pipeline. Under the
    * `spark.graft.widen.maxBytes` guard the parse result is
    * materialized here, so this call runs one job that scans every
    * input ([[LineParser.parse]]).
    */
  def parseLogs(spark: SparkSession, paths: Seq[String]): ParsedLogs =
    LineParser.parse(readLines(spark, paths))
}
