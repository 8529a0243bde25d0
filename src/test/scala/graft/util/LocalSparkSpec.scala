package graft.util

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{GraftSparkSpec, TestSpark}

/** The session factory's contract: every session it makes carries the
  * shared conf, the test session is one of them, and no other session
  * is built anywhere in the sources, so no entry point can drift from
  * the shared conf.
  */
class LocalSparkSpec extends GraftSparkSpec {

  test("the test session carries the factory's shared conf") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.hadoop.fs.file.impl") == "graft.util.NoForkLocalFileSystem")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    LocalSpark.SharedConf.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // the factory's per-call arguments
    assert(conf.get("spark.app.name") == "graft-test")
    assert(conf.get("spark.sql.shuffle.partitions") ==
      sys.env.getOrElse("GRAFT_TEST_SHUFFLE", "4"))
  }

  test("the shared fs impl is the one file:// resolves to") {
    // newInstance: the FileSystem cache may hold a file:// instance
    // made from another Configuration
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    try assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass.getName)
    finally fs.close()
  }

  test("LocalSpark is the only place src/main and src/test build a SparkSession") {
    val src = Paths.get("src")
    assume(Files.isDirectory(src.resolve("main")), s"no sources under ${src.toAbsolutePath}")
    val sites = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession." + "builder("))
      .map((p: Path) => src.relativize(p).toString).toSeq
    assert(sites == Seq("main/scala/graft/util/LocalSpark.scala"), sites)
  }
}
