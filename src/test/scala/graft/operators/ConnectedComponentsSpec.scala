package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

class ConnectedComponentsSpec extends GraftSparkSpec {
  import spark.implicits._
  import LinkGraphSpec._

  test("chain, triangle, and isolated vertices resolve to min-id components") {
    val vertices = (1L to 9L).toDF("id")
    // chain 1-2-3-4, triangle 5-6-7 (with redundant edge), isolated 8, 9
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(vertices, "id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L,
      8L -> 8L, 9L -> 9L))
  }

  test("dropNearDups keeps exactly the component representative; idempotent") {
    val df = (1L to 6L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDups(df, "id", pairs)
    assert(kept.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 5L))
    // dropping again with the same pairs changes nothing (survivors are
    // their own representatives)
    val again = Dedup.dropNearDups(kept, "id", pairs)
    assert(again.count() == kept.count())
  }

  test("dropNearDupsBy keeps the best-scored row per component, ties to smallest id") {
    import org.apache.spark.sql.functions.col
    // components {1,2,3}, {5,6}; 4 is a singleton
    val df = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 30.0), // tie at 30 -> id 2 wins
      (4L, 1.0), (5L, 5.0), (6L, 9.0))
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDupsBy(df, "id", col("score"), pairs)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L, 6L))
    // schema passes through unchanged (no helper columns leak)
    assert(Dedup.dropNearDupsBy(df, "id", col("score"), pairs).columns.toSeq
      == Seq("id", "score"))
  }

  test("convergence needs path-length rounds, not more (early stop)") {
    // a 30-vertex path converges well inside maxIter=50 and produces
    // a single component rooted at the smallest id
    val vertices = (1L to 30L).toDF("id")
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(vertices, "id", edges)
      .select("component").distinct().collect().map(_.getLong(0)).toSeq
    assert(comps == Seq(1L))
  }

  test("row cap 0 forces the distributed labeling, same components") {
    // the driver-side union-find takes every small graph; pin the
    // propagation loop against it (checkpointed inputs, so only the
    // local route's broadcast label table is a LocalRelation)
    val vertices = (1L to 12L).toDF("id").localCheckpoint()
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (9L, 5L), (5L, 6L), (6L, 9L),
      (11L, 10L)).toDF("id_a", "id_b").localCheckpoint()
    val local = Dedup.connectedComponents(vertices, "id", edges)
    assert(localRoute(local))
    val dist = distributed(spark)(Dedup.connectedComponents(vertices, "id", edges))
    assert(!localRoute(dist))
    assert(sortedRows(dist) === sortedRows(local))
    // the loop releases every superseded round and the edge pin, within
    // the jobs the hand-written loop ran on this fixture
    val (rows, jobs, leaked) =
      distributed(spark)(loopFootprint(Dedup.connectedComponents(vertices, "id", edges)))
    assert(rows.map(_.toString).sorted === sortedRows(local))
    assert(leaked.isEmpty, s"left persisted: $leaked")
    assert(jobs <= 27, s"jobs: $jobs")
    // non-integral vertex ids keep to the distributed labeling
    val strV = (1 to 12).map(_.toString).toDF("id").localCheckpoint()
    assert(!localRoute(Dedup.connectedComponents(strV, "id", edges)))
  }
}
