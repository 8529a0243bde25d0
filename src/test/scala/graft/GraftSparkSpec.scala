package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerInterop
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** `f` of every query run while `body` runs (its action name and
    * execution), concatenated. */
  protected def queriesDuring[T](f: (String, QueryExecution) => Seq[T])(body: => Unit): Seq[T] = {
    val found = new ConcurrentLinkedQueue[T]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        f(funcName, qe).foreach(found.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      GraftListenerInterop.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    found.asScala.toSeq
  }

  /** Runs `call` and collects its result. Returns the rows, the jobs
    * both ran, and the RDDs that stay persisted afterwards although the
    * result does not read them: a loop round or pin never released.
    * `getPersistentRDDs` holds its RDDs weakly, so an unreleased round
    * would vanish from it whenever the JVM happens to collect garbage;
    * every persisted RDD seen at a job start is held until the check.
    */
  protected def loopFootprint(call: => DataFrame): (Seq[Row], Int, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new ConcurrentLinkedQueue[AnyRef]
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        held.addAll(sc.getPersistentRDDs.values.asJavaCollection)
      }
    }
    GraftListenerInterop.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    val (out, rows) =
      try {
        val out = call
        val rows = out.collect().toSeq
        GraftListenerInterop.waitUntilListenerBusEmpty(sc)
        (out, rows)
      } finally sc.removeSparkListener(listener)
    val read = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    val left = (sc.getPersistentRDDs.keySet -- before).toSet -- read
    held.clear()
    (rows, jobs.get, left)
  }

  /** Column names of every frame `localCheckpoint`ed while `body` runs. */
  protected def checkpointedDuring(body: => Unit): Seq[Seq[String]] =
    queriesDuring { (funcName, qe) =>
      if (funcName == "localCheckpoint") Seq(qe.analyzed.output.map(_.name)) else Nil
    }(body)
}
