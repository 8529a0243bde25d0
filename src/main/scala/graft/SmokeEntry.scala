package graft
import graft.util.LocalSpark
object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("local[8]", 8, "WARN")
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS = " + df.count())
    df.show(10, truncate = false)
    spark.stop()
  }
}
