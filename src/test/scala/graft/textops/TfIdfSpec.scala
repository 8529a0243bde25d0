package graft.textops

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Pins [[TfIdf]]: identical docs rank each other at cosine 1, the
  * smooth-idf weight formula, the stop-bucket candidate cap, and
  * partitioning invariance of the full top-k pipeline.
  */
class TfIdfSpec extends GraftSparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "alpha beta gamma delta"),
    (1L, "alpha beta gamma delta"), // exact twin of 0
    (2L, "alpha beta something else entirely"),
    (3L, "totally unrelated words here"),
    (4L, "gamma delta epsilon zeta"),
    (5L, "zeta eta theta iota"),
    (6L, "common common common filler"),
    (7L, "more filler text common"),
    (8L, "alpha gamma mixed bag"),
    (9L, "epsilon zeta eta words"))

  test("exact twin docs score cosine 1.0 at rank 1") {
    val df = corpus.toDF("doc_id", "text")
    val top = TfIdf.cosineTopK(df, "doc_id", "text", col("doc_id") < 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val r1 = top.filter(t => t._1 == 0L && t._4 == 1).head
    assert(r1._2 === 1L && r1._3 === 1.0)
    val r2 = top.filter(t => t._1 == 1L && t._4 == 1).head
    assert(r2._2 === 0L && r2._3 === 1.0)
  }

  test("docVectors: weight = tf * (ln((N+1)/(df+1)) + 1), L2 norm alongside") {
    val df = Seq((0L, "x x y"), (1L, "x z")).toDF("doc_id", "text")
    val vecs = TfIdf.docVectors(df, "doc_id", "text", numBuckets = 64)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getDouble(2))).sortBy(_._1)
    def bucket(t: String): Int = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      var h = 0L
      for (i <- 0 until 4) h = (h << 8) | (dig(i) & 0xffL)
      (h % 64).toInt
    }
    def idf(dfc: Int) = Math.log(3.0 / (dfc + 1)) + 1.0 // N = 2
    val (_, v0, n0) = vecs(0)
    assert(math.abs(v0(bucket("x")) - 2 * idf(2)) < 1e-12) // tf=2, df=2
    assert(math.abs(v0(bucket("y")) - 1 * idf(1)) < 1e-12)
    assert(math.abs(n0 - math.sqrt(v0.map(x => x * x).sum)) < 1e-12)
    assert(v0.count(_ != 0.0) === 2)
  }

  test("stop buckets generate no candidates") {
    // "common" appears in every doc -> df = N > max(2, N/5) -> capped;
    // docs sharing ONLY "common" must not pair
    val docs = (0L until 10L).map(i =>
      (i, if (i < 5) s"common unique$i" else s"common shared")).toDF("doc_id", "text")
    val top = TfIdf.cosineTopK(docs, "doc_id", "text", col("doc_id") === 0, k = 9)
      .collect()
    // doc 0's only non-stop term is unique0 -> no shared capped bucket
    assert(top.isEmpty)
  }

  test("partitioning invariance of the full pipeline") {
    val df1 = corpus.toDF("doc_id", "text").repartition(1)
    val df7 = corpus.toDF("doc_id", "text").repartition(7)
    def run(df: org.apache.spark.sql.DataFrame) =
      TfIdf.cosineTopK(df, "doc_id", "text", col("doc_id") < 4, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    assert(run(df1) === run(df7))
  }

  test("a probe set over Ann.MaxQueries fails fast, before the model is built") {
    val docs = spark.range(graft.vector.Ann.MaxQueries + 1L)
      .select(col("id").as("doc_id"), lit("alpha beta").as("text"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      TfIdf.cosineTopK(docs, "doc_id", "text", lit(true), k = 3)
    }
    assert(e.getMessage.startsWith(
      "TfIdf.cosineTopK: query frame exceeds maxQueries=100000 rows"), e.getMessage)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "the sparse model must not be checkpointed before the bound holds")
  }
}
