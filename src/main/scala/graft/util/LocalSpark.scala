package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory of the graft entry points (`graft.Bench`,
  * `graft.Verify`, `cli/Triage`, the dev tools) and of the test suites:
  * every session gets [[SharedConf]], so none can drift from it.
  */
object LocalSpark {

  /** The conf every graft session shares. */
  val SharedConf: Seq[(String, String)] = Seq(
    // local-FS perf: no /bin/chmod forks (see NoForkLocalFileSystem)
    "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet has carried TIMESTAMP(NANOS), which Spark has no
    // native type for: read it as long, SparkEntry.eventsTable converts
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // one triage pass generates ~130 classes; at Spark's default of 100
    // cache entries every repeated pass recompiled them all (0 at 1000)
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** A session on `master` with [[SharedConf]]. `extra` is applied last,
    * so it may override any shared key (`spark.app.name` included).
    */
  def session(master: String, shufflePartitions: Int, logLevel: String,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val conf = SharedConf ++
      Seq("spark.sql.shuffle.partitions" -> shufflePartitions.toString) ++ extra
    val spark = conf.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
