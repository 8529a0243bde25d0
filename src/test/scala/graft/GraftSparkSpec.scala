package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerInterop
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.LocalSpark

/** Shared local SparkSession for all suites (one per JVM).
  *
  * Parallelism is overridable (GRAFT_TEST_CPUS / GRAFT_TEST_SHUFFLE)
  * so the suite can re-run under a different partitioning — results
  * that depend on partition count or intra-partition order are bugs,
  * and `GRAFT_TEST_CPUS=7 GRAFT_TEST_SHUFFLE=13 sbt test` flushes them
  * out.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val cpus = sys.env.getOrElse("GRAFT_TEST_CPUS", "4")
    val shuffle = sys.env.getOrElse("GRAFT_TEST_SHUFFLE", "4").toInt
    LocalSpark.session(s"local[$cpus]", shuffle, "WARN", Seq("spark.app.name" -> "graft-test"))
  }
}

abstract class GraftSparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Jobs started while `body` runs: listener delivery is async, so
    * drain the listener bus after the (synchronous) actions return.
    */
  protected def countJobs(body: => Unit): Int = {
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
}
