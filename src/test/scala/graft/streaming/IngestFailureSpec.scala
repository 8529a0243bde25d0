package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryException}

import graft.GraftSparkSpec

/** The ingest loops' failure path: a sink that throws leaves no pinned
  * blocks behind and the index unchanged, so the replay of the failed
  * batch (a restart from the same checkpoint) delivers it. Together
  * this pins "sink before append" and "release on every exit".
  */
class IngestFailureSpec extends GraftSparkSpec {
  import spark.implicits._

  /** Regular files under `dir` with their sizes (empty if it is absent). */
  private def files(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => (root.relativize(p).toString, Files.size(p))).toVector.sorted
      finally walk.close()
    }
  }

  /** Runs `loop` over a memory stream from one checkpoint three times:
    * batch `a` through a working sink, then batch `b` through a sink
    * that throws, then a restart with a working sink. Asserts the
    * failure surfaced, nothing stayed persisted and `dir` did not
    * change; returns the `idCol` values the restart delivered.
    */
  private def failAndReplay[A: Encoder](dir: String, idCol: String, a: Seq[A], b: Seq[A])(
      loop: (DataFrame, (DataFrame, Long) => Unit) => DataStreamWriter[Row]): Set[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[A]
    val ckpt = Files.createTempDirectory("ingest_failure_ckpt").toString
    val got = ArrayBuffer.empty[Long]
    val working: (DataFrame, Long) => Unit = (df, _) => got.synchronized {
      got ++= df.select(col(idCol).cast("long")).collect().map(_.getLong(0)); ()
    }
    def run(sink: (DataFrame, Long) => Unit): Unit = {
      val q = loop(input.toDF(), sink).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    input.addData(a)
    run(working)
    got.synchronized(got.clear())
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val index = files(dir)
    input.addData(b)
    val e = intercept[StreamingQueryException](
      run((_, _) => throw new IllegalStateException("sink down")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "sink down"), e)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty,
      "a failed batch must release its pins")
    assert(files(dir) == index, "a failed batch must not touch the index")
    run(working)
    got.synchronized(got.toSet)
  }

  private def indexDir(name: String): String =
    Files.createTempDirectory(s"ingest_failure_$name").toString + "/idx"

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "mu")

  private def doc(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")
  }

  test("dedupIngest: a failing sink leaves the index unchanged and the replay delivers") {
    val dir = indexDir("minhash")
    val got = failAndReplay(dir, "doc_id",
      Seq((1L, doc(1)), (2L, doc(2))), Seq((3L, doc(3)), (4L, doc(4)))) { (in, sink) =>
      StreamingOps.dedupIngest(in.toDF("doc_id", "text"), "doc_id", "text", dir, sink)
    }
    assert(got == Set(3L, 4L))
  }

  test("dedupIngestFingerprints: a failing sink leaves the index unchanged and the replay delivers") {
    val dir = indexDir("phash")
    val got = failAndReplay(dir, "media_id", Seq(1L, 2L), Seq(3L, 7L)) { (in, sink) =>
      val media = graft.multimodal.Multimodal.patternImages(in.toDF("media_id"), "media_id")
        .withColumn("fp", graft.multimodal.PerceptualHash.dhash64(col("bytes")))
      StreamingOps.dedupIngestFingerprints(media, "media_id", "fp", dir, sink, maxHamming = 4)
    }
    assert(got == Set(3L, 7L))
  }

  test("spanDedupIngest: a failing sink leaves the index unchanged and the replay delivers") {
    val dir = indexDir("span")
    val got = failAndReplay(dir, "doc_id",
      Seq(1L -> doc(1)), Seq(10L -> doc(10), 11L -> doc(11))) { (in, sink) =>
      StreamingOps.spanDedupIngest(in.toDF("doc_id", "text"), "doc_id", "text", dir, sink)
    }
    assert(got == Set(10L, 11L))
  }

  test("cdcChunkIngest: a failing sink leaves the index unchanged and the replay delivers") {
    val dir = indexDir("cdc")
    val got = failAndReplay(dir, "doc_id",
      Seq(1L -> doc(1)), Seq(2L -> doc(1), 3L -> doc(3))) { (in, sink) =>
      StreamingOps.cdcChunkIngest(in.toDF("doc_id", "text"), "doc_id", "text", dir, sink)
    }
    assert(got == Set(2L, 3L))
  }

  test("lineCleanIngest: a failing sink leaves the index unchanged and the replay delivers") {
    val dir = indexDir("lines")
    val got = failAndReplay(dir, "doc_id",
      Seq(1L -> "banner\nu1"), Seq(2L -> "banner\nu2", 3L -> "fresh\nu3")) { (in, sink) =>
      StreamingOps.lineCleanIngest(in.toDF("doc_id", "text"), "doc_id", "text", dir,
        minDf = 2, sink)
    }
    assert(got == Set(2L, 3L))
  }

  test("annIngest: a failing sink leaves the index unchanged and the replay delivers") {
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(8)(j => if (j == (i % 8).toInt) 1.0 else 0.01 * ((i + j) % 5))
    val dir = Files.createTempDirectory("ingest_failure_ann").toString
    StreamingOps.annIngestInit(
      (0L until 40L).map(i => (i, vec(i))).toDF("vid", "emb"), "vid", "emb", dir, nlist = 4)
    val got = failAndReplay(dir, "vid",
      (40L until 45L).map(i => (i, vec(i))), (45L until 50L).map(i => (i, vec(i)))) {
      (in, sink) => StreamingOps.annIngest(in.toDF("vid", "emb"), "vid", "emb", dir, sink)
    }
    assert(got == (45L until 50L).toSet)
  }
}
