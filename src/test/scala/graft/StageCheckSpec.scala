package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerInterop
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The staging-folded C10 strict check (Pipeline.writeStageChecked):
  * the all-valid path must cost ZERO jobs beyond the bare stage write
  * (the former eager check was its own full scan), and the failure
  * path must raise the reference's exact error and remove the
  * half-written store.
  */
class StageCheckSpec extends GraftSparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs: listener delivery is async, so
    * drain the listener bus after the (synchronous) actions return.
    */
  private def countJobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftListenerInterop.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftListenerInterop.waitUntilListenerBusEmpty(spark.sparkContext)
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def normFrame(rows: Seq[(String, String, String, String)]): DataFrame =
    rows.toDF("source", "ip", "timestamp", "_ts")
      .withColumn("utc_timestamp", to_timestamp(col("_ts")))
      .drop("_ts")

  private val valid = Seq(
    ("a.log", "1.2.3.4", "2024-01-01 10:00:00", "2024-01-01 10:00:00"),
    ("a.log", "1.2.3.5", "2024-01-01 10:00:01", "2024-01-01 10:00:01"),
    ("b.log", "1.2.3.6", "2024-01-02 11:00:00", "2024-01-02 11:00:00"))

  test("folded strict check adds zero jobs on the all-valid path") {
    val dir1 = java.nio.file.Files.createTempDirectory("stage_plain").toString
    val dir2 = java.nio.file.Files.createTempDirectory("stage_checked").toString
    val plain = countJobs(graft.sink.ParquetStage.write(normFrame(valid), dir1))
    val checked = countJobs(Pipeline.writeStageChecked(normFrame(valid), dir2))
    assert(checked == plain,
      s"observe-folded check must not add jobs: bare write=$plain, checked=$checked")
    // and the staged store is intact and re-readable
    assert(graft.sink.ParquetStage.read(spark, dir2).count() == valid.size)
  }

  test("failure path: reference error message, stage removed") {
    val bad = valid :+ (("c.log", "9.9.9.9", "02/13/24 garbage", null: String))
    val dir = java.nio.file.Files.createTempDirectory("stage_bad").toString
    val e = intercept[IllegalArgumentException] {
      Pipeline.writeStageChecked(normFrame(bad), dir)
    }
    // byte-identical contract with the eager withUtcTimestamp error
    assert(e.getMessage.startsWith(
      "Found timestamps with an unknown or invalid format: "))
    assert(e.getMessage.contains("c.log:'02/13/24 garbage'"), e.getMessage)
    // the half-written store must not survive for --from-stage to read
    assert(!new java.io.File(dir).exists(), s"stage dir $dir not deleted")
  }
}
