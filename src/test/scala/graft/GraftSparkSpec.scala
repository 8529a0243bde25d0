package graft

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
}
