package graft
import graft.util.LocalSpark

/** Debug runner: run named `SparkEntry.queries` against an sf dir and
  * print row counts, with the full stack on failure — `Verify` swallows
  * per-query errors into one stderr line, which is right for the driver
  * gate but useless for diagnosing a broken query.
  * Usage: `runMain graft.DebugOne <sfDir> [query...]`.
  */
object DebugOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q6_parse")
    val selected = SparkEntry.selectQueries(names, "DebugOne")
    val spark = LocalSpark.session("local[4]", 4, "ERROR")
    selected.foreach { case (n, fn) =>
      try {
        val c = fn(spark, sfDir).count()
        println(s"OK $n rows=$c")
      } catch { case e: Throwable =>
        println(s"FAIL $n: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    spark.stop()
  }
}
