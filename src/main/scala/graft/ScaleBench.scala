package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{StorageLayout, TableLog}
import graft.util.{LocalSpark, StageLog}

/** Scale evidence runner (round-3 VERDICT #7): one order of magnitude
  * above the per-round bench, plus a deliberately hot-keyed corpus.
  *
  * Phase 0 materializes an sf≈1 dataset under `GRAFT_SCALE_DIR` with
  * [[ScaleSuite.replicateCorpus]] (replica r shifts event/user/doc/vec
  * ids into its own range, so key cardinality grows 10x with the data —
  * reading the result back from parquet keeps generation cost out of
  * the timings and the scans realistic).
  *
  * Phase 1 times the headline operator families at that scale.
  *
  * Phase 2 rebuilds the events with ONE (source, ip) pair owning half of
  * all rows and times [[graft.session.Sessionizer.withClusters]] against
  * [[graft.session.Sessionizer.withClustersChunked]], asserting their
  * outputs are identical — the measured evidence behind the chunked
  * variant's skew claim (its per-task unit is a bounded time chunk, so a
  * hot key no longer serializes into one task-sized sort).
  *
  * Emits one JSON line per measurement:
  *   {"bench":"scale","workload":...,"sec":...,"rows":...}
  */
object ScaleBench {

  /** Reports the longest single task of each measured window.
    * Wall-clock on one box under-reports stragglers (idle cores absorb
    * them); on a real cluster every other executor WAITS on the longest
    * task, so max-task is the metric a hot key actually moves.
    */
  private var log: StageLog = _

  private def timed(name: String, df: => DataFrame): (Long, Long) = {
    log.reset()
    val t0 = System.nanoTime()
    val (xor, rows) = Bench.force(df)
    val sec = (System.nanoTime() - t0) / 1e9
    val mt = log.maxTaskSec()
    println(f"""{"bench":"scale","workload":"$name","sec":$sec%.2f,"max_task_sec":$mt%.2f,"rows":$rows,"xor":$xor}""")
    (xor, rows)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = LocalSpark.session(s"local[$cpus]", cpus, "WARN")
    log = StageLog.attach(spark)

    // SPARK_GRAFT_SKEW_ONLY=1: jump straight to the hot-key duels
    // (phase 2) — the sf~1 corpus phases don't change when iterating on
    // a skew-shape fix. SPARK_GRAFT_ADVERSARIAL_ONLY=1: run only the
    // generated boilerplate-corpus phases (1b/1c) — they need neither
    // the sf~1 store nor the skewed events.
    val layoutOnly = sys.env.get("SPARK_GRAFT_LAYOUT_ONLY").contains("1")
    val skewOnly = sys.env.get("SPARK_GRAFT_SKEW_ONLY").contains("1") && !layoutOnly
    val advOnly = (sys.env.get("SPARK_GRAFT_ADVERSARIAL_ONLY").contains("1")
      || layoutOnly)

    // Template text with one low-cardinality varying token (phases
    // 1b/1c): docs sharing id % 97 are byte-identical boilerplate, the
    // shape a crawl's licence blocks and templated pages produce.
    def boiler(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("terms of service for account tier "), col("id") % 97,
          lit(" all rights reserved standard clause applies without warranty " +
            "of any kind either express or implied including merchantability")).as("text"))

    // ---- phase 0: materialize the scaled dataset ----
    if (!skewOnly && !advOnly) {

    ScaleSuite.replicateCorpus(spark, baseDir, outDir, replicas)
    val ev = graft.SparkEntry.normalizeEventTs(
      spark.read.parquet(s"$outDir/events.parquet"))
    val logs = ev.select(
      col("event_id"),
      col("event_type").as("source"),
      col("user_id").cast("string").as("ip"),
      col("ts").as("utc_timestamp"))
    val sdocs = spark.read.parquet(s"$outDir/documents.parquet")
    val semb = spark.read.parquet(s"$outDir/embeddings.parquet")
    println(s"""{"bench":"scale","workload":"generate","events":${ev.count()},""" +
      s""""documents":${sdocs.count()},"embeddings":${semb.count()},"replicas":$replicas}""")

    // warmup (same rationale as Bench)
    timed("warmup_window_count", logs.withColumn("_c",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("ip")))))

    // ---- phase 1: headline operators at sf~1 ----
    timed("sessionize", graft.session.Sessionizer
      .withClusters(logs, threshold = 300L).select(col("event_id"), col("cluster")))
    timed("sessionize_chunked", graft.session.Sessionizer
      .withClustersChunked(logs, threshold = 300L, chunkSeconds = 3600L)
      .select(col("event_id"), col("cluster")))
    timed("dedup_exact", graft.operators.Dedup.exact(
      ev, Seq(col("user_id"), col("event_type"), col("value")), col("event_id")))
    timed("minhash_lsh_pairs", graft.textops.NearDup.minhashPairs(
      sdocs, "doc_id", "text", threshold = 0.9))
    timed("ann_ivf_topk", graft.vector.Ivf.ivfTopK(
      semb, "vec_id", "embedding",
      semb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, nlist = 64, nprobe = 8))

    } // end phase 0/1 (!skewOnly && !advOnly)

    if (!skewOnly && !layoutOnly) {
    // ---- phase 1b: adversarial boilerplate corpus for simhash ----
    // fingerprints collapse onto few values, so every chunk bucket
    // holds O(n/97) docs and the uncapped pair join goes quadratic.
    // Uncapped runs at 5k docs (measurable); the capped default (q26's
    // 1000) must stay flat at 50k.
    timed("simhash_adversarial_5k_uncapped", graft.textops.NearDup.simhashPairs(
      boiler(5000), "doc_id", "text", maxHamming = 6))
    timed("simhash_adversarial_5k_capped", graft.textops.NearDup.simhashPairs(
      boiler(5000), "doc_id", "text", maxHamming = 6, maxBucketSize = 1000))
    timed("simhash_adversarial_50k_capped", graft.textops.NearDup.simhashPairs(
      boiler(50000), "doc_id", "text", maxHamming = 6, maxBucketSize = 1000))

    // ---- phase 1c: hot BAND keys for the minhash LSH bucket join ----
    // the same template corpus collapses the banded join's bucket keys:
    // docs sharing id % 97 are byte-identical, so all 8 band keys
    // coincide within each ~n/97-doc group and the uncapped candidate
    // join goes quadratic INSIDE hot buckets — the shape a boilerplate-
    // heavy crawl produces. The cap (q25's default 100) is the skew
    // answer; max_task_sec is the evidence it holds at 10x: a hot band
    // bucket must no longer serialize into one task.
    timed("minhash_adversarial_5k_uncapped", graft.textops.NearDup.minhashPairs(
      boiler(5000), "doc_id", "text", threshold = 0.9, maxBucketSize = 0))
    timed("minhash_adversarial_50k_uncapped", graft.textops.NearDup.minhashPairs(
      boiler(50000), "doc_id", "text", threshold = 0.9, maxBucketSize = 0))
    timed("minhash_adversarial_5k_capped", graft.textops.NearDup.minhashPairs(
      boiler(5000), "doc_id", "text", threshold = 0.9))
    // at 10x the hot buckets exceed the cap and are dropped whole — the
    // cap trades their (pure-boilerplate) recall for a flat cost curve;
    // 0 surviving pairs here is that trade-off made visible, and the
    // substring-level SpanDedup family is the operator that still
    // handles the dropped boilerplate
    timed("minhash_adversarial_50k_capped", graft.textops.NearDup.minhashPairs(
      boiler(50000), "doc_id", "text", threshold = 0.9))

    // ---- phase 1d: hot WINDOW-HASH skew for substring span dedup ----
    // half the corpus carries one shared licence block, so each of the
    // block's k-token window hashes occurs in n/2 documents — ONE hash
    // value owning ~half of all occurrences. SpanDedup claims
    // (SpanDedup.scala) that this degrades to one LINEAR task: there is
    // no pair join anywhere, just two plain `min` window aggregates
    // over the hash partitioning. Evidence sought: 10x docs => ~10x
    // worst max-task (linear, never quadratic), and the 50k run
    // completes at all — a pair-join formulation would attempt ~3*10^8
    // pairs per hot window hash at 50k.
    def license(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("document number "), col("id"),
          lit(" unique preamble segment alpha "), col("id") % 997,
          lit(" beta "), col("id") % 89,
          when(col("id") % 2 === 0, lit(" terms of use this document is " +
            "provided under the standard sample license with no warranty " +
            "of any kind whatsoever either express or implied"))
            .otherwise(lit(""))).as("text"))
    timed("spandedup_hot_5k",
      graft.textops.SpanDedup.dedupSpans(license(5000), "doc_id", "text", k = 8))
    timed("spandedup_hot_50k",
      graft.textops.SpanDedup.dedupSpans(license(50000), "doc_id", "text", k = 8))

    // ---- phase 1e: global prefix sum — chunked vs unpartitioned ----
    // shuffle-then-shard (CorpusOrder.shuffleShard) rides the chunked
    // two-phase cumsum; the naive formulation is ONE unpartitioned
    // window (every row through a single task — the shape that cannot
    // survive 100 TB). Evidence sought: identical content hash, naive
    // max-task ~= its wall-clock (single task) while chunked max-task
    // stays a small fraction and scales ~linearly 100k -> 1M.
    def shardCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        (col("id") * 37 % 23 + 1).as("n_tokens"))
    def naiveShard(n: Long): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("shuffle_key"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      shardCorpus(n)
        .withColumn("shuffle_key", xxhash64(lit(42L), col("doc_id")))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("shard_id",
          expr("greatest(cum_tokens - 1L, 0L) div 100000L"))
    }
    def chunkedShard(n: Long): DataFrame =
      graft.operators.CorpusOrder.shuffleShard(
        shardCorpus(n), 42L, col("doc_id"), col("n_tokens"), 100000L)
        // column ORDER differs from the naive twin; select for the
        // content-hash compare (force hashes columns positionally)
        .select("doc_id", "n_tokens", "shuffle_key", "cum_tokens", "shard_id")
    timed("shuffleshard_chunked_1m", chunkedShard(1000000))
    val ch10m = timed("shuffleshard_chunked_10m", chunkedShard(10000000))
    val nv10m = timed("shuffleshard_naive_10m", naiveShard(10000000)
      .select("doc_id", "n_tokens", "shuffle_key", "cum_tokens", "shard_id"))
    println(s"""{"bench":"scale","workload":"shuffleshard_duel_match",""" +
      s""""match":${ch10m == nv10m}}""")

    // ---- phase 1f: per-key quota cap — three plans, one truth ----
    // one host owns half the corpus (the C4-style per-domain cap's
    // adversary), rows are WIDE (~160-byte payload — the cap runs over
    // document rows, not bare ids). Three physical plans for the SAME
    // semantics at 50M rows:
    //  - builtin: ONE window + rank filter — Catalyst's
    //    InferWindowGroupLimit (SPARK-37099) prunes map-side to <= k
    //    rows per (task, key), so the hot key never concentrates;
    //  - salted: the hand-rolled two-phase (Quota.capPerKeySalted) —
    //    the same bound bought with an EXTRA full-data exchange;
    //  - naive: the rule DISABLED (windowGroupLimitThreshold=-1) —
    //    the hot host's 25M wide rows (~4 GB) sort in ONE task.
    // Evidence sought: identical kept-row hash all three ways; naive
    // max-task ~= its wall-clock and a multiple of both bounded
    // plans; builtin <= salted (hand-scheduling loses to declaring
    // the plan — the reason capPerKey IS the plain window).
    val wglKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    def quotaCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        when(col("id") % 2 === 0, lit("hot.example.com"))
          .otherwise(concat(lit("host-"), col("id") % 9973)).as("host"),
        (col("id") * 131 % 100003).as("score"),
        // payload must survive into the output hash or pruning would
        // narrow the shuffle and void the wide-row premise
        concat(lit("x" * 144), col("id")).as("payload"))
    def builtinQuota(n: Long): DataFrame =
      graft.operators.Quota.capPerKey(quotaCorpus(n),
        Seq(col("host")), Seq(col("score").desc), col("id"), k = 8)
        .select("id", "host", "score", "payload", "rk")
    def saltedQuota(n: Long): DataFrame =
      graft.operators.Quota.capPerKeySalted(quotaCorpus(n),
        Seq(col("host")), Seq(col("score").desc), col("id"), k = 8, salts = 32)
        .select("id", "host", "score", "payload", "rk")
    timed("quota_builtin_5m", builtinQuota(5000000))
    val qb50m = timed("quota_builtin_50m", builtinQuota(50000000))
    val qs50m = timed("quota_salted_50m", saltedQuota(50000000))
    spark.conf.set(wglKey, "-1")
    val qn50m = try timed("quota_naive_50m", builtinQuota(50000000))
      finally spark.conf.unset(wglKey)
    println(s"""{"bench":"scale","workload":"quota_duel_match",""" +
      s""""match":${qb50m == qs50m && qs50m == qn50m}}""")

    // ---- phase 1g: corpus-stat sketches vs exact distinct shuffle ----
    // per-source vocabulary stats (the q80/q82/q89 trio as ONE
    // aggregation) against the exact two-level groupBy, at ~n/10
    // distinct terms with one source owning half the stream. The exact
    // form's shuffle carries one row per DISTINCT (source, term) — it
    // GROWS with vocabulary; the sketch form's shuffle is a fixed
    // summary per (task, source) regardless of n. Evidence sought:
    // sketch cost grows only with the SCAN (flat max-task), exact cost
    // grows with the distinct count; KMV estimate lands within its
    // ~1/sqrt(k-2) band of the exact answer at 50M.
    def statCorpus(n: Long): DataFrame =
      spark.range(n).select(
        when(col("id") % 2 === 0, lit("hot-src"))
          .otherwise(concat(lit("src-"), col("id") % 7)).as("source"),
        concat(lit("term-"), (col("id") * 2654435761L) % (n / 10)).as("term"))
    def exactStats(n: Long): DataFrame =
      statCorpus(n).groupBy("source", "term").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_terms"))
    def sketchStats(n: Long): DataFrame =
      statCorpus(n).groupBy("source").agg(
        count(lit(1)).as("n_terms"),
        graft.operators.DistinctSketch.kmv(
          graft.operators.DistinctSketch.hash60(col("term")), 256).as("kmv"),
        graft.operators.HeavyHitters.mg_summary(col("term"), 64).as("mg"),
        graft.operators.CountMin.cms(col("term"), 4, 1024).as("cms"))
        .select(col("source"), col("n_terms"), col("kmv.est_distinct"))
    timed("cstats_sketch_5m", sketchStats(5000000))
    timed("cstats_sketch_50m", sketchStats(50000000))
    timed("cstats_exact_5m", exactStats(5000000))
    timed("cstats_exact_50m", exactStats(50000000))
    val est = sketchStats(50000000)
      .filter(col("source") === "hot-src").collect()(0).getLong(2)
    val exact = exactStats(50000000)
      .filter(col("source") === "hot-src").collect()(0).getLong(1)
    println(s"""{"bench":"scale","workload":"cstats_kmv_accuracy",""" +
      s""""est":$est,"exact":$exact,""" +
      f""""rel_err":${math.abs(est - exact).toDouble / exact}%.4f}""")

    // ---- phase 1h: pagerank hub-skew — partial combine vs raw shuffle ----
    // EVERY node links to node 0 (plus one modular link): the
    // mega-hub in-degree skew of a real web graph. The operator's
    // per-iteration (dst) hash aggregation partial-combines hub
    // contributions inside each task, so at most one hub row per task
    // crosses the exchange; the naive twin repartitions the raw
    // contribution rows by dst first — ALL n hub rows land in one
    // task. Same integer sums either way (xor-checked); end-to-end
    // iteration cost at 1M vs 10M shows the operator's scaling.
    def prGraph(n: Long): (DataFrame, DataFrame) = {
      val nodes = spark.range(n).select(col("id"))
      val edges = nodes
        .select(col("id").as("src"), ((col("id") * 7 + 1) % n).as("dst"))
        .union(nodes.select(col("id").as("src"), lit(0L).as("dst")))
      (nodes, edges)
    }
    val (prN1, prE1) = prGraph(1000000L)
    timed("pagerank_1m_3it",
      graft.operators.LinkGraph.pageRank(prN1, "id", prE1, iters = 3))
    val (prN10, prE10) = prGraph(10000000L)
    timed("pagerank_10m_3it",
      graft.operators.LinkGraph.pageRank(prN10, "id", prE10, iters = 3))
    // the aggregation duel runs at 50M nodes (50M hub rows): at 10M
    // the single naive hub task still sums in ~2 s and hides the
    // asymmetry the combine exists to prevent
    // materialize the contribution frame FIRST (parquet, not a memory
    // checkpoint — 100M cached rows beside the naive arm's repartition
    // exhaust execution memory): uncached, both arms would recompute
    // the 100M-row deg join and its cost would swamp the aggregation
    // difference the duel exists to show
    val (_, prE50) = prGraph(50000000L)
    val prDeg = prE50.groupBy("src").agg(count(lit(1)).as("_deg"))
    prE50.join(prDeg, "src").select(col("dst"),
        expr(s"(${graft.operators.LinkGraph.Scale} DIV (100 * _deg)) * 85").as("_c"))
      .write.mode("overwrite").parquet(s"$outDir/pr_contribs")
    val prContribs = spark.read.parquet(s"$outDir/pr_contribs")
    val (prCombineXor, _) = timed("pr_hub_agg_combine",
      prContribs.groupBy("dst").agg(sum(col("_c")).as("s")))
    val (prNaiveXor, _) = timed("pr_hub_agg_naive",
      prContribs.repartition(col("dst")).groupBy("dst").agg(sum(col("_c")).as("s")))
    println(s"""{"bench":"scale","workload":"pr_hub_duel_match",""" +
      s""""match":${prCombineXor == prNaiveXor}}""")
    if (prCombineXor != prNaiveXor)
      throw new IllegalStateException("pagerank hub aggregation duel diverged")

    // ---- phase 1i: tf-idf stop-bucket cap — candidate-join skew ----
    // every boilerplate doc shares the template terms, so WITHOUT the
    // stop-bucket cap each probe pairs with the whole corpus through
    // those buckets (probe x corpus candidates, each a 1024-dim dot);
    // the cap drops corpus-wide buckets from the candidate INDEX only
    // (vectors keep their idf mass), leaving the varying-token buckets
    // (~n/97 docs each) to generate candidates. Evidence: capped cost
    // tracks n/97 while uncapped pays probe x corpus at 5k already.
    timed("tfidf_adversarial_5k_uncapped", graft.textops.TfIdf.cosineTopK(
      boiler(5000), "doc_id", "text", col("doc_id") < 8, k = 5,
      stopBucketCap = Long.MaxValue))
    timed("tfidf_adversarial_5k_capped", graft.textops.TfIdf.cosineTopK(
      boiler(5000), "doc_id", "text", col("doc_id") < 8, k = 5))
    timed("tfidf_adversarial_50k_capped", graft.textops.TfIdf.cosineTopK(
      boiler(50000), "doc_id", "text", col("doc_id") < 8, k = 5))

    // ---- phase 1k: hot-paragraph duel for keep-first paragraph dedup ----
    // every document carries ONE corpus-universal paragraph, so its
    // trimmed form owns n occurrences. History of this duel (round
    // 10): the first shipped form computed first-occurrence as a
    // map-side-combined aggregate but applied it back via an equi-join
    // on the paragraph key — and MEASURED SLOWER than the naive window
    // (16.5 s vs 7.6 s max-task at 2M): the join colocates the hot
    // key exactly like the window does, and AQE's skew split never
    // triggered below its 256 MB partition threshold. The shipped form
    // is now two-tier (hot paragraphs ≥ hotThreshold apply via
    // broadcast — no colocation; cold keys are < hotThreshold by
    // construction). Evidence sought: identical xor/rows, two-tier
    // max-task flat vs the window twin's growing single-task sort.
    def paraCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("shared announcement paragraph identical across the " +
          "whole corpus for every single document\n\nbody "), col("id"),
          lit(" alpha "), col("id") % 997,
          lit("\n\npermalink "), col("id")).as("text"))
    def windowParaDedup(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val paras = df.select(col("doc_id").as("_pp_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n\n", -1))
          .as(Seq("_pp_i", "_pp_raw")))
        .withColumn("_pp_t", trim(col("_pp_raw")))
      val w = Window.partitionBy(col("_pp_t"))
        .orderBy(col("_pp_id"), col("_pp_i"))
      val nb = paras.filter(col("_pp_t") =!= "")
        .withColumn("_pp_keep", row_number().over(w) === 1)
      val bl = paras.filter(col("_pp_t") === "")
        .withColumn("_pp_keep", lit(true))
      nb.unionByName(bl)
        .groupBy(col("_pp_id"))
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("_pp_keep"), 0L).otherwise(1L)).as("n_dropped"),
          concat_ws("\n\n", transform(filter(array_sort(collect_list(struct(
            col("_pp_i"), col("_pp_keep").as("_pp_k"), col("_pp_raw")))),
            x => x.getField("_pp_k")), x => x.getField("_pp_raw")))
            .as("text_dedup"))
        .select(col("_pp_id").as("doc_id"),
          col("n_paras"), col("n_dropped"), col("text_dedup"))
    }
    for (n <- Seq(200000L, 2000000L)) {
      val tag = if (n >= 1000000) s"${n / 1000000}m" else s"${n / 1000}k"
      val (ax, ar) = timed(s"paradedup_twotier_$tag",
        graft.textops.ParagraphDedup.dedupParagraphs(
          paraCorpus(n), "doc_id", "text", hotThreshold = 1000))
      val (wx, wr) = timed(s"paradedup_window_$tag",
        windowParaDedup(paraCorpus(n)))
      println(s"""{"bench":"scale","workload":"paradedup_duel_match_$tag",""" +
        s""""match":${ax == wx && ar == wr}}""")
      if (ax != wx || ar != wr)
        throw new IllegalStateException("paragraph dedup duel diverged")
    }

    // ---- phase 1l: collapsed-cell graph-ANN build duel ----
    // a duplicate-heavy embedding dump: every vector is one base + a
    // tiny per-id epsilon, so the quantizer collapses the corpus into
    // ~1 cell and an UNCAPPED per-cell kNN self-join goes quadratic in
    // corpus size (the round-10 verdict's scale-killer). Evidence
    // sought: uncapped cost superlinear when n doubles at SMALL n (so
    // it is never run big); capped build max-task flat from 30k to
    // 300k while search still answers a full top-k.
    def collapsedVecs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), j =>
          when(j === lit(0), lit(1.0)).otherwise(lit(0.0)) +
            lit(1e-4) * ((col("id") * 31 + j.cast("long")) % 97).cast("double"))
          .as("embedding"))
    def collapsedGraph(n: Long, cap: Long): (DataFrame, DataFrame, DataFrame, Array[Array[Double]]) = {
      val dfc = collapsedVecs(n).localCheckpoint()
      val cents = graft.vector.Ivf.fitCentroids(dfc, "embedding", 8)
      val (e, en) = graft.vector.GraphAnn.build(
        dfc, "vec_id", "embedding", cents, m = 4, replicas = 2, maxCellSize = cap)
      (dfc, e, en, cents)
    }
    timed("graphann_collapsed_4k_uncapped", collapsedGraph(4000, 0)._2)
    timed("graphann_collapsed_8k_uncapped", collapsedGraph(8000, 0)._2)
    for (n <- Seq(30000L, 300000L)) {
      val tag = s"${n / 1000}k"
      val (dfc, e, en, cents) = collapsedGraph(n, graft.vector.GraphAnn.DefaultMaxCellSize)
      timed(s"graphann_collapsed_${tag}_capped", e)
      // checkpoint AFTER the timed build so the measured window is the
      // build itself; the walk re-consumes edges per hop
      val eChk = e.localCheckpoint()
      val qs = dfc.filter(col("vec_id") < 8)
      val (_, sr) = timed(s"graphann_collapsed_${tag}_capped_search",
        graft.vector.GraphAnn.searchTopK(dfc, "vec_id", "embedding",
          qs, "vec_id", "embedding", cents, eChk, en,
          k = 3, nprobe = 1, hops = 3, beam = 8))
      if (sr != 24L)
        throw new IllegalStateException(s"collapsed-cell capped search returned $sr rows, want 24")
    }

    // ---- phase 1j: incremental-PageRank delta duel ----
    // many-component graph (5-node rings); the delta touches a FIXED
    // 200 components regardless of graph size and arrives as a known
    // change feed (the crawler scenario pageRankDelta's
    // knownDeltaEdges models — WITHOUT it the multiset diff adds two
    // graph-linear shuffles and the win shrinks accordingly, which is
    // exactly why the parameter exists). Claim measured: the delta
    // path's cost tracks the DELTA (near-flat 1M -> 4M) while full
    // recompute scales with the graph; equality is xor-checked (the
    // exactness contract — fixed-point integers, no tolerance).
    def ringGraph(n: Long): (DataFrame, DataFrame) = {
      val nodes = spark.range(n).select(col("id"))
      val edges = nodes.select(col("id").as("src"),
        when(col("id") % 5 === 4, col("id") - 4).otherwise(col("id") + 1).as("dst"))
      (nodes, edges)
    }
    for (n <- Seq(2000000L, 8000000L)) {
      val (dn, de) = ringGraph(n)
      // delta: 200 specific components gain a chord edge
      val extra = spark.range(200L).select(
        (col("id") * 5L * (n / 1000L / 5L)).as("src"),
        (col("id") * 5L * (n / 1000L / 5L) + 2L).as("dst"))
        .localCheckpoint(true)
      val newE = de.unionByName(extra)
      val prev = graft.operators.LinkGraph.pageRank(dn, "id", de, iters = 5)
        .localCheckpoint(true)
      val (fullXor, _) = timed(s"pr_delta_full_${n / 1000000}m",
        graft.operators.LinkGraph.pageRank(dn, "id", newE, iters = 5))
      val (deltaXor, _) = timed(s"pr_delta_incr_${n / 1000000}m",
        graft.operators.LinkGraph.pageRankDelta(
          dn, "id", newE, dn, de, prev, iters = 5,
          knownDeltaEdges = Some(extra))
          .select(col("id"), col("rank")))
      println(s"""{"bench":"scale","workload":"pr_delta_duel_match_${n / 1000000}m",""" +
        s""""match":${fullXor == deltaXor}}""")
      if (fullXor != deltaXor)
        throw new IllegalStateException("incremental pagerank duel diverged")
      prev.unpersist()
    }
    } // end !skewOnly

    if (layoutOnly || (!skewOnly && !advOnly))
    // ---- phase 1m: storage-layout skip + compaction duels ----
    // (a) range clustering: an 8M-row table with a real payload, read
    // with a 1/16 band predicate — the clustered layout's tight
    // per-file min/max lets the pushed filter skip row groups, the
    // hash-scattered twin decodes everything (identical results,
    // xor-checked). (b) z-order: a band on the SECOND dimension skips
    // on the z layout but cannot on the one-dimensional layout.
    // (c) compaction: 1024-tiny-file ingest mess vs the coalesced
    // table on a full scan — per-file open cost is the 100 TB killer
    // the operator exists for.
    {
      val n = 8000000L
      val layoutBase = s"$outDir/layout"
      def payload = concat(lit("payload-"), col("id") % 1000,
        lit("-abcdefghijklmnopqrstuvwxyz0123456789-"), col("id") % 7)
      // second dimension decorrelated from id by a Knuth-style
      // multiplicative hash, kept overflow-free for ANSI mode
      // (id * K < 2^55, reduced mod 2^32, top 16 bits taken)
      val src = spark.range(n).select(col("id"), payload.as("p"),
        shiftright(pmod(col("id") * lit(2654435761L), lit(4294967296L)), 16)
          .as("b"))
      StorageLayout.writeRangeClustered(src, s"$layoutBase/rc", "id", 64)
      // the scattered twin sorts within files by b: without this the
      // map-side id-runs survive the shuffle and parquet PAGE indexes
      // still skip — a real ingest mess has no residual id order
      src.repartition(64, col("b")).sortWithinPartitions("b")
        .write.mode("overwrite").parquet(s"$layoutBase/scatter")
      // decoded-rows-aware timer: on one box with 32 idle cores the
      // wall delta of a skipped scan is noise — the cluster-relevant
      // quantity is rows DECODED (scan IO), reported alongside, and
      // with `files` also the number of files the scans planned
      def scanMetric(df: DataFrame, metric: String): Long = {
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          // AQE hides materialized stages behind QueryStageExec whose
          // `plan` is NOT in `children`
          case q: QueryStageExec => scans(q.plan)
          case f: FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
        scans(df.queryExecution.executedPlan).map(_.metrics(metric).value).sum
      }
      def timedScan(name: String, mk: => DataFrame, files: Boolean = false): Long = {
        val warm = mk; warm.collect()          // codegen/JIT warm pass
        val fresh = mk
        val t0 = System.nanoTime()
        fresh.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val decoded = scanMetric(fresh, "numOutputRows")
        val planned =
          if (files) s""","files_planned":${scanMetric(fresh, "numFiles")}""" else ""
        val x = Bench.force(mk)._1
        println(f"""{"bench":"scale","workload":"$name","sec":$sec%.2f,"rows_decoded":$decoded$planned,"xor":$x}""")
        x
      }
      def bandId(path: String) = spark.read.parquet(path)
        .filter(col("id") >= n / 2 && col("id") < n / 2 + n / 16)
        .agg(sum(length(col("p"))).as("s"), count(lit(1)).as("c"))
      val rcXor = timedScan("layout_band_range_clustered", bandId(s"$layoutBase/rc"))
      val scXor = timedScan("layout_band_scattered", bandId(s"$layoutBase/scatter"))
      if (rcXor != scXor)
        throw new IllegalStateException("range-cluster band duel diverged")

      // (d) manifest-level pruning: the SAME band served through
      // TableLog's footer-stats manifest. readBand cuts the file list
      // against the manifest bounds BEFORE Spark plans the scan, so
      // the band never opens the pruned files' footers — at
      // object-store latency, #files planned is the metric that
      // matters (one manifest read vs 100k footer GETs); decoded rows
      // must be no worse than the parquet-footer row-group-skip path
      // on the same clustered layout, and results are xor-equal.
      {
        val tlPath = s"$layoutBase/tlog"
        val tlHP = new org.apache.hadoop.fs.Path(tlPath)
        val tlFs = tlHP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        tlFs.delete(tlHP, true)
        var t1 = System.nanoTime()
        TableLog.create(spark, tlPath, src.repartition(64, col("b")))
        TableLog.optimizeRange(spark, tlPath, "id", numFiles = 64)
        println(f"""{"bench":"scale","workload":"tablelog_create_optimize","sec":${(System.nanoTime() - t1) / 1e9}%.2f}""")
        def agg(df: DataFrame) =
          df.agg(sum(length(col("p"))).as("s"), count(lit(1)).as("c"))
        val mXor = timedScan("manifest_band_tablelog",
          agg(TableLog.readBand(spark, tlPath, "id", n / 2, n / 2 + n / 16 - 1)), files = true)
        val fXor = timedScan("footer_band_tablelog",
          agg(TableLog.read(spark, tlPath)
            .filter(col("id") >= n / 2 && col("id") < n / 2 + n / 16)), files = true)
        if (mXor != fXor)
          throw new IllegalStateException("manifest-pruning duel diverged")
      }

      StorageLayout.writeZOrdered(src, s"$layoutBase/zo", "id", "b", 64, bits = 6)
      def bandB(path: String) = spark.read.parquet(path)
        .filter(col("b") >= 1000L && col("b") < 1000L + 65536L / 16L)
        .agg(sum(col("id")).as("s"), count(lit(1)).as("c"))
      val zbXor = timedScan("layout_bandB_zorder", bandB(s"$layoutBase/zo"))
      val rbXor = timedScan("layout_bandB_range_by_id", bandB(s"$layoutBase/rc"))
      if (zbXor != rbXor)
        throw new IllegalStateException("z-order dim-B duel diverged")

      src.repartition(1024).write.mode("overwrite").parquet(s"$layoutBase/tiny")
      def fullScan(path: String) = spark.read.parquet(path)
        .agg(sum(length(col("p"))).as("s"), count(lit(1)).as("c"))
      val preXor = timedScan("compact_fullscan_1024_files", fullScan(s"$layoutBase/tiny"))
      val t0 = System.nanoTime()
      val rep = StorageLayout.compactSmallFiles(
        spark, s"$layoutBase/tiny", targetRowsPerFile = n / 32)
      println(f"""{"bench":"scale","workload":"compact_rewrite","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"files_before":${rep.filesBefore},"files_after":${rep.filesAfter}}""")
      val postXor = timedScan("compact_fullscan_compacted", fullScan(s"$layoutBase/tiny"))
      if (preXor != postXor)
        throw new IllegalStateException("compaction full-scan duel diverged")
    }

    // ---- phase 2: hot-key skew duel ----
    // one (source, ip) pair owns every even event_id = 50% of all rows;
    // separately scaled (default 100x base = 10M rows, 5M in the hot
    // key) because the chunked variant's win only appears once the hot
    // group's single-task sort dominates — at 1M total rows a 500k-row
    // in-memory sort is still cheaper than the chunked path's extra
    // shuffle+join.
    if (!advOnly) {
    val skewReplicas = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPLICAS", "100").toInt
    val skBase = ScaleSuite.replicatedEvents(graft.SparkEntry.normalizeEventTs(
        spark.read.parquet(s"$baseDir/events.parquet")), skewReplicas)
      .withColumnRenamed("ts", "utc_timestamp")
    val skewed = skBase.select(
      col("event_id"),
      when(col("event_id") % 2 === 0, lit("weblog")).otherwise(col("event_type")).as("source"),
      when(col("event_id") % 2 === 0, lit("198.51.100.66"))
        .otherwise(col("user_id").cast("string")).as("ip"),
      col("utc_timestamp"))
    skewed.write.mode("overwrite").parquet(s"$outDir/events_skewed")
    val sk = spark.read.parquet(s"$outDir/events_skewed")
    println(s"""{"bench":"scale","workload":"skew_generate","rows":${sk.count()},""" +
      s""""hot_rows":${sk.filter(col("ip") === "198.51.100.66").count()}}""")

    timed("skew_sessionize_monolithic", graft.session.Sessionizer
      .withClusters(sk, threshold = 300L).select(col("event_id"), col("cluster")))
    timed("skew_sessionize_chunked", graft.session.Sessionizer
      .withClustersChunked(sk, threshold = 300L, chunkSeconds = 3600L)
      .select(col("event_id"), col("cluster")))

    // ---- phase 2b: hot-key as-of join duel ----
    // same skewed frame: left = all events, right = every 10th event as
    // a checkpoint on the same (source, ip) keys. The monolithic window
    // sorts the hot key's |left|+|right| rows in one task; the chunked
    // twin bounds the sort by hourly chunks. The xor hashes must agree
    // (same semantics, different physical shape).
    val skLeft = sk.select(col("event_id"), col("source"), col("ip"), col("utc_timestamp"))
    val skRight = sk.filter(col("event_id") % 10 === 0)
      .select(col("source"), col("ip"), col("utc_timestamp").as("_rt"),
        col("event_id").as("ckpt_id"))
    val (asofMonoXor, _) = timed("skew_asof_monolithic", graft.operators.AsofJoin.asofBackward(
      skLeft, skRight, Seq("source", "ip"), "utc_timestamp", "_rt", Seq("ckpt_id")))
    val (asofChunkXor, _) = timed("skew_asof_chunked", graft.operators.AsofJoin.asofBackwardChunked(
      skLeft, skRight, Seq("source", "ip"), "utc_timestamp", "_rt", Seq("ckpt_id"),
      chunkSize = 3600L))
    println(s"""{"bench":"scale","workload":"skew_asof_equality","match":${asofMonoXor == asofChunkXor}}""")
    if (asofMonoXor != asofChunkXor)
      throw new IllegalStateException("chunked as-of join diverged under skew")

    // equality: the two physical shapes must produce identical clusters.
    // Materialize each side first — a full join over two live 10M-row
    // sessionize chains runs both hot-key sorts concurrently and
    // exhausts execution memory; two cheap (event_id, cluster) parquet
    // dumps serialize the expensive parts.
    graft.session.Sessionizer.withClusters(sk, threshold = 300L)
      .select(col("event_id"), col("cluster").as("_ca"))
      .write.mode("overwrite").parquet(s"$outDir/skew_clusters_mono")
    graft.session.Sessionizer.withClustersChunked(sk, threshold = 300L, chunkSeconds = 3600L)
      .select(col("event_id"), col("cluster").as("_cb"))
      .write.mode("overwrite").parquet(s"$outDir/skew_clusters_chunked")
    val mismatches = spark.read.parquet(s"$outDir/skew_clusters_mono")
      .join(spark.read.parquet(s"$outDir/skew_clusters_chunked"), Seq("event_id"), "full")
      .filter(col("_ca").isNull || col("_cb").isNull || col("_ca") =!= col("_cb"))
      .count()
    println(s"""{"bench":"scale","workload":"skew_equality","mismatches":$mismatches}""")
    if (mismatches != 0)
      throw new IllegalStateException(s"chunked sessionizer diverged under skew: $mismatches rows")
    } // end phase 2 (!advOnly)

    spark.stop()
  }
}
