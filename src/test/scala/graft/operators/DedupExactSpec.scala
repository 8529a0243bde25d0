package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftSparkSpec

/** `Dedup.exact`'s one-window form (row_number and the min/max
  * single-source test over one partition and order) keeps exactly the
  * rows of the two-window `collect_set` form it replaced.
  */
class DedupExactSpec extends GraftSparkSpec {
  import spark.implicits._

  /** The former form: row_number over the ordered key window, the
    * distinct-source count over the unordered one. */
  private def collectSetForm(df: DataFrame, keys: Seq[Column], order: Column,
      src: Column): DataFrame = {
    val w = Window.partitionBy(keys: _*)
    val keep = row_number().over(w.orderBy(order)) === 1 || size(collect_set(src).over(w)) <= 1
    df.withColumn("_keep", keep).filter(col("_keep"))
  }

  /** Rows (id, k1, k2, source): a few keys, so groups repeat, and per
    * key a source pool that is all-null, single, or mixed with nulls. */
  private val rowsGen: Gen[Seq[(Long, Int, String, String)]] = for {
    nKeys <- Gen.choose(1, 12)
    pools <- Gen.listOfN(nKeys, Gen.oneOf(
      Seq(null), Seq("a.log"), Seq("a.log", null), Seq("a.log", "b.log"),
      Seq("a.log", "b.log", "c.log", null)))
    picks <- Gen.listOf(Gen.zip(Gen.choose(0, nKeys - 1), Gen.choose(0, 3)))
  } yield picks.zipWithIndex.map { case ((k, s), i) =>
    val pool = pools(k)
    (i.toLong, k % 3, s"u${k / 3}", pool(s % pool.size))
  }

  private def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet

  test("one-window form keeps the collect_set form's rows on random frames") {
    (0 until 12).foreach { i =>
      rowsGen.apply(Gen.Parameters.default, Seed(7L + i)).foreach { rows =>
        val df = rows.toDF("id", "k1", "k2", "source")
        val keys = Seq(col("k1"), col("k2"))
        val got = ids(Dedup.exact(df, keys, col("id"), sourceCol = Some(col("source"))))
        val want = ids(collectSetForm(df, keys, col("id"), col("source")))
        assert(got == want, s"seed ${7L + i}: rows $rows")
        // keep-first without a source column is untouched
        assert(ids(Dedup.exact(df, keys, col("id"))) ==
          rows.groupBy(r => (r._2, r._3)).values.map(_.map(_._1).min).toSet)
      }
    }
  }

  test("non-orderable sources keep the collect_set test") {
    // a calendar interval has no ordering, so min/max cannot apply
    val rows = Seq((0L, 1, Some(1)), (1L, 1, Some(1)), (2L, 2, Some(1)), (3L, 2, Some(2)),
      (4L, 3, None))
    val df = rows.toDF("id", "k", "d").withColumn("source", expr("make_interval(0, 0, 0, d)"))
    assert(ids(Dedup.exact(df, Seq(col("k")), col("id"), sourceCol = Some(col("source")))) ==
      Set(0L, 1L, 2L, 4L))
  }
}
