package graft.textops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Substring-level dedup: duplicated >=k-token spans are trimmed to
  * their globally first occurrence; everything shorter survives.
  */
class SpanDedupSpec extends GraftSparkSpec {
  import spark.implicits._

  private val block = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens

  private def run(docs: Seq[(Long, String)], k: Int = 8): Map[Long, (Long, Long, String)] =
    SpanDedup.dedupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("copied span trimmed from the later doc, first occurrence kept") {
    val res = run(Seq(
      1L -> (block + " iota kappa"),
      2L -> ("intro " + block + " ending")))
    assert(res(1L) === ((10L, 0L, block + " iota kappa")))
    assert(res(2L) === ((10L, 8L, "intro ending")))
  }

  test("exact-duplicate doc trims to empty; overlapping windows merge") {
    val res = run(Seq(
      1L -> (block + " iota kappa"),
      3L -> (block + " iota kappa")))
    assert(res(1L)._2 === 0L)
    assert(res(3L) === ((10L, 10L, "")))
  }

  test("internal repetition: second occurrence of a block trimmed") {
    val res = run(Seq(4L -> (block + " " + block)))
    assert(res(4L) === ((16L, 8L, block)))
  }

  test("docs shorter than k tokens are never trimmed, even if identical") {
    val res = run(Seq(5L -> "short text here", 6L -> "short text here"))
    assert(res(5L) === ((3L, 0L, "short text here")))
    assert(res(6L) === ((3L, 0L, "short text here")))
  }

  test("empty and whitespace-only docs pass through as empty") {
    val res = run(Seq(7L -> "", 8L -> " \t\n "))
    assert(res(7L) === ((0L, 0L, "")))
    assert(res(8L) === ((0L, 0L, "")))
  }

  test("matching is case-insensitive and output is lowered") {
    val res = run(Seq(
      1L -> (block + " iota kappa"),
      9L -> block.toUpperCase))
    assert(res(9L) === ((8L, 8L, "")))
    assert(res(1L)._3 === block + " iota kappa")
  }

  test("one row out per row in; ids preserved") {
    val docs = Seq(1L -> block, 2L -> "x y", 3L -> "")
    val out = SpanDedup.dedupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", 8)
    assert(out.columns.toSeq === Seq("doc_id", "n_tokens", "n_dropped", "text_dedup"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("windowHashes: position-ordered, repeated windows keep both slots") {
    val df = Seq(Tuple1("a b a b a")).toDF("t")
    val hs = df.select(SpanDedup.window_hashes(col("t"), 2)).as[Seq[Long]].head()
    assert(hs.length === 4)
    assert(hs(0) === hs(2)) // "a b" at pos 0 and 2
    assert(hs(1) === hs(3)) // "b a" at pos 1 and 3
    assert(hs(0) !== hs(1))
    val short = df.select(SpanDedup.window_hashes(lit("only"), 2)).as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  private def runDecontam(
      docs: Seq[(Long, String)], evals: Seq[String], k: Int = 8)
      : Map[Long, (Long, Long, Boolean, Long, String)] =
    SpanDedup.decontaminate(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      evals.map(Tuple1(_)).toDF("text"), "text", k)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4), r.getString(5))))
      .toMap

  test("decontaminate: docs sharing a k-window with the eval set are flagged and trimmed") {
    val res = runDecontam(
      Seq(1L -> ("intro " + block + " ending"), // contains the eval block
        2L -> "totally unrelated content with many distinct tokens here"),
      Seq(block + " benchmark answer"))
    // block at positions 1..8 -> 1 matching 8-window (only the block
    // itself; windows crossing into intro/ending don't hit)
    assert(res(1L) === ((10L, 1L, true, 8L, "intro ending")))
    assert(res(2L) === ((8L, 0L, false, 0L,
      "totally unrelated content with many distinct tokens here")))
  }

  test("decontaminate: doc equal to an eval doc trims to empty; flags count occurrences") {
    val res = runDecontam(
      Seq(1L -> block, 2L -> (block + " " + block)),
      Seq(block))
    assert(res(1L) === ((8L, 1L, true, 8L, "")))
    // 16 tokens, windows at 0..8; those fully inside either copy hit
    // (positions 0 and 8); straddling windows mix the boundary and miss
    assert(res(2L)._3 === true)
    assert(res(2L)._5 === "")
  }

  test("decontaminate: matching is case-insensitive; short docs never flag") {
    val res = runDecontam(
      Seq(1L -> block.toUpperCase, 2L -> "short text"),
      Seq(block))
    assert(res(1L) === ((8L, 1L, true, 8L, "")))
    assert(res(2L) === ((2L, 0L, false, 0L, "short text")))
  }

  test("decontaminate: empty eval corpus flags nothing") {
    val res = runDecontam(Seq(1L -> block), Seq("too short"))
    assert(res(1L) === ((8L, 0L, false, 0L, block)))
  }

  test("decontaminate: oversized eval corpus fails loudly, not with a driver OOM") {
    val docs = Seq(1L -> block).toDF("doc_id", "text")
    val evals = (0 until 50).map(i => Tuple1(
      (0 until 20).map(j => s"w${i}_$j").mkString(" "))).toDF("text")
    val e = intercept[IllegalArgumentException] {
      SpanDedup.decontaminate(docs, "doc_id", "text", evals, "text",
        k = 8, maxEvalWindows = 100)
    }
    assert(e.getMessage.contains("maxEvalWindows"))
  }

  test("eval-window bound is probed before anything is checkpointed") {
    // one eval doc of 10 tokens = 3 distinct 8-windows; a budget of 2
    // is one window short. The probe must fail with the contract text
    // and leave no checkpointed (persisted) eval frame behind.
    val docs = Seq(1L -> block).toDF("doc_id", "text")
    val evals = Seq((1L, s"$block nu xi")).toDF("eval_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      SpanDedup.contaminationReport(docs, "doc_id", "text", evals, "eval_id", "text",
        k = 8, maxEvalWindows = 2)
    }
    assert(e.getMessage === "requirement failed: contaminationReport: eval corpus " +
      "has more than 2 distinct (doc, window) pairs — the eval side broadcasts; " +
      "raise maxEvalWindows only deliberately")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "nothing may be materialized before the bound is checked")
    // exactly at the bound passes
    val ok = SpanDedup.contaminationReport(docs, "doc_id", "text", evals, "eval_id", "text",
      k = 8, maxEvalWindows = 3).collect()
    assert(ok.map(_.getAs[Long]("n_windows")).toSeq === Seq(3L))
  }

  test("contamination dashboard: per-benchmark metrics + trend delta") {
    // prev corpus is clean; cur corpus leaks benchA's probe into two
    // docs; benchB is the negative control (appears nowhere)
    val probe = (1 to 10).map(i => s"leak$i").mkString(" ")
    val clean = (1 to 10).map(i => s"never$i").mkString(" ")
    val filler = (1 to 12).map(i => s"doc%d w$i")
    def corpus(planted: Boolean) = (1L to 4L).map { d =>
      val base = filler.map(_.format(d)).mkString(" ")
      (d, if (planted && d <= 2) s"$base $probe" else base)
    }.toDF("doc_id", "text")
    val evals = Seq(
      ("benchA", 1L, probe), ("benchB", 2L, clean)
    ).toDF("benchmark", "eval_id", "text")
    val got = SpanDedup.contaminationTrend(
      corpus(planted = false), corpus(planted = true), "doc_id", "text",
      evals, "benchmark", "eval_id", "text", k = 8)
      .collect().map(r => r.getAs[String]("benchmark") -> r).toMap
    val a = got("benchA")
    // probe has 10 tokens -> 3 distinct 8-windows, all leaked into 2 docs
    assert(a.getAs[Long]("n_windows") === 3L)
    assert(a.getAs[Long]("n_matched_windows") === 3L)
    assert(a.getAs[Long]("n_docs_hit") === 2L)
    assert(a.getAs[Long]("n_contaminated_docs") === 1L)
    assert(a.getAs[Long]("contamination_x10000") === 10000L)
    assert(a.getAs[Long]("docs_x10000") === 10000L)
    assert(a.getAs[Long]("prev_x10000") === 0L)
    assert(a.getAs[Long]("delta_x10000") === 10000L)
    val b = got("benchB")
    assert(b.getAs[Long]("n_matched_windows") === 0L)
    assert(b.getAs[Long]("contamination_x10000") === 0L)
    assert(b.getAs[Long]("delta_x10000") === 0L)
  }

  test("indexed contamination dashboard equals the scanning dashboard") {
    val probe = (1 to 10).map(i => s"leak$i").mkString(" ")
    val clean = (1 to 10).map(i => s"never$i").mkString(" ")
    val corpus = (1L to 6L).map { d =>
      val base = (1 to 12).map(i => s"doc${d}w$i").mkString(" ")
      (d, if (d <= 2) s"$base $probe" else base)
    }.toDF("doc_id", "text")
    val evals = Seq(("benchA", 1L, probe), ("benchB", 2L, clean))
      .toDF("benchmark", "eval_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("span-idx-dash").toFile
    dir.deleteOnExit()
    // build incrementally — the indexed path must see appends too
    SpanDedup.buildSpanIndex(corpus.filter(col("doc_id") <= 3),
      "doc_id", "text", dir.getAbsolutePath)
    SpanDedup.appendToSpanIndex(corpus.filter(col("doc_id") > 3),
      "doc_id", "text", dir.getAbsolutePath)
    val scanned = SpanDedup.contaminationDashboard(
      corpus, "doc_id", "text", evals, "benchmark", "eval_id", "text", k = 8)
      .drop("n_docs_hit")
      .collect().map(_.toSeq).toSet
    val indexed = SpanDedup.contaminationDashboardIndexed(
      spark, dir.getAbsolutePath, evals, "benchmark", "eval_id", "text", k = 8)
      .collect().map(_.toSeq).toSet
    assert(indexed === scanned)
    // a missing index reads as an uncontaminated corpus, not an error
    val empty = SpanDedup.contaminationDashboardIndexed(
      spark, dir.getAbsolutePath + "-nope", evals,
      "benchmark", "eval_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("n_matched_windows")).toSeq
    assert(empty === Seq(0L, 0L))
  }

  test("dedupSpanStats: merge-scan coverage over sorted positions") {
    val df = Seq(Tuple1("t0 t1 t2 t3 t4 t5 t6 t7")).toDF("t")
    // windows of 3 at positions 1 and 2 cover tokens 1..4
    val r = df.select(SpanDedup.dedup_span_stats(
      col("t"), typedLit(Seq(1, 2)), 3).as("s")).select("s.*").head()
    assert(r === Row(8L, 4L, "t0 t5 t6 t7"))
    // disjoint spans: positions 0 and 5, k=2 -> tokens 0,1,5,6 dropped
    val r2 = df.select(SpanDedup.dedup_span_stats(
      col("t"), typedLit(Seq(0, 5)), 2).as("s")).select("s.*").head()
    assert(r2 === Row(8L, 4L, "t2 t3 t4 t7"))
  }
}
