package graft
import java.nio.file.{Files, Paths}

import graft.util.LocalSpark
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: verify ONLY these queries (local iteration;
    // the driver always passes exactly two args). Unknown names fail
    // fast — the Bench SPARK_GRAFT_BENCH_ONLY discipline.
    val only = args.drop(2).toSet
    val queries = SparkEntry.selectQueries(only, "Verify")
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSpark.session(s"local[$cpus]", cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Explicit context enables the generated key-CTE oracles
    // (OracleGen) for the six candidate-generation queries: they embed
    // engine-computed keys for THIS sf dir, the same data the query
    // dumps above just read.
    // skip the (expensive) OracleGen pass when a local ONLY run needs
    // static oracles alone
    val needGen = only.isEmpty ||
      (only -- SparkEntry.staticOracleSql.keySet).nonEmpty
    val oracles =
      SparkEntry.oracleSql(if (needGen) Some((spark, sfDir)) else None)
        .filter(kv => selected(kv._1))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // counts ride the artifact so docs quote it instead of drifting
    // (round-4 verdict: SURVEY said 51 while the artifacts said 50)
    Files.writeString(Paths.get(s"$outDir/meta.json"),
      s"""{"n_queries": ${SparkEntry.queries.size}, "n_oracles": ${oracles.size}}""")
    spark.stop()
  }
}
