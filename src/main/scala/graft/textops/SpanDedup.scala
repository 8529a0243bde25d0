package graft.textops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftInterop}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Substring-level exact dedup: remove duplicated token SPANS inside
  * otherwise-distinct documents (boilerplate headers, licence blocks,
  * templated paragraphs) — the third classic dedup family next to
  * doc-level exact ([[graft.operators.Dedup]]) and doc-level near-dup
  * ([[NearDup]]). The formulation is the bucketed equivalent of
  * suffix-array substring dedup (Lee et al., "Deduplicating Training
  * Data Makes Language Models Better"): every sliding k-token window is
  * hashed; a window whose hash occurs anywhere else in the corpus
  * (earlier doc, or earlier in the same doc) is a duplicated span
  * occurrence; all such occurrences except the globally FIRST
  * (min (id, pos)) are trimmed from their documents.
  *
  * 100 TB shape — this family is inherently skew-safe because there is
  * NO pair join anywhere:
  *   1. one narrow codegen'd scan emits position-ordered window hashes
  *      ([[WindowHashesExpr]]), then `posexplode` (linear in corpus
  *      token count);
  *   2. ONE hash shuffle on the window hash; first-occurrence detection
  *      is two `min` window aggregates over that partitioning (no
  *      `min(struct)` — that plans SortAggregate, see PLANS.md), a hot
  *      boilerplate hash degrades to one linear task, never quadratic;
  *   3. one shuffle back on the doc id (`collect_list` is bounded by
  *      tokens-per-doc), and a final narrow scan rebuilds the trimmed
  *      text ([[DedupSpanStatsExpr]], merge-scan over the sorted
  *      duplicate positions).
  *
  * Canonicalization contract: matching and output are over LOWERED
  * whitespace tokens (the near-dup family's tokenizer,
  * [[TokenShingles.isWs]]); `text_dedup` is the kept tokens joined by a
  * single space. Duplicate detection is 64-bit hash equality — two
  * DISTINCT k-token windows colliding would merge spans, at the same
  * vanishing odds as [[NearDup.ngramJaccardPairs]]'s hashed-shingle
  * argument. Requires an orderable id column (keep-first is min by
  * (id, pos)).
  */
object SpanDedup {

  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** Position-ordered (NOT sorted/deduped — position identity matters
    * here) k-token window hashes of a pre-lowered text; empty array when
    * the text has fewer than k tokens. Window i (0-based) covers tokens
    * [i, i+k). Same token FNV + order-sensitive window fold as
    * [[TokenShingles.hashedShingles]], so the two families' hashes are
    * comparable.
    */
  def windowHashes(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    var tokenHashes = new Array[Long](16)
    var nTokens = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      while (i < len && TokenShingles.isWs(bytes(i))) i += 1
      if (i < len) {
        var h = FnvOffset
        while (i < len && !TokenShingles.isWs(bytes(i))) {
          h ^= (bytes(i) & 0xffL)
          h *= FnvPrime
          i += 1
        }
        if (nTokens == tokenHashes.length) {
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTokens * 2)
        }
        tokenHashes(nTokens) = h
        nTokens += 1
      }
    }
    if (nTokens < n) return new GenericArrayData(Array.empty[Any])
    val m = nTokens - n + 1
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      var h = FnvOffset
      var j = 0
      while (j < n) {
        h = (h ^ tokenHashes(s + j)) * FnvPrime
        j += 1
      }
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }

  /** One merge-scan over the text and the SORTED 0-based duplicate
    * window positions: token t is covered iff some duplicate window
    * starts at p <= t < p+k. Returns (n_tokens, n_dropped, text_dedup)
    * — the kept tokens joined by single spaces, computed in the same
    * scan so the three outputs can't disagree.
    */
  def dedupSpanStats(text: UTF8String, positions: ArrayData, k: Int): InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    val npos = positions.numElements()
    val bos = new java.io.ByteArrayOutputStream(math.max(len, 16))
    var pi = 0
    var coveredEnd = -1 // exclusive token-index end of merged coverage so far
    var t = 0
    var nKept = 0L
    var i = 0
    while (i < len) {
      while (i < len && TokenShingles.isWs(bytes(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !TokenShingles.isWs(bytes(i))) i += 1
        while (pi < npos && positions.getInt(pi) <= t) {
          val e = positions.getInt(pi) + k
          if (e > coveredEnd) coveredEnd = e
          pi += 1
        }
        if (t >= coveredEnd) {
          if (nKept > 0) bos.write(' ')
          bos.write(bytes, start, i - start)
          nKept += 1
        }
        t += 1
      }
    }
    val nTokens = t.toLong
    new GenericInternalRow(Array[Any](
      nTokens, nTokens - nKept, UTF8String.fromBytes(bos.toByteArray)))
  }

  case class WindowHashesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "window_hashes"
    override def nullSafeEval(input: Any): Any =
      windowHashes(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.textops.SpanDedup.windowHashes($input, $n);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class DedupSpanStatsExpr(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_dropped", LongType, nullable = false),
      StructField("text_dedup", StringType, nullable = false)))
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "dedup_span_stats"
    override def nullSafeEval(text: Any, positions: Any): Any =
      dedupSpanStats(text.asInstanceOf[UTF8String], positions.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (text, positions) =>
        s"${ev.value} = graft.textops.SpanDedup.dedupSpanStats($text, $positions, $k);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def window_hashes(loweredText: Column, n: Int): Column =
    GraftInterop.column(WindowHashesExpr(GraftInterop.expression(loweredText), n))

  def dedup_span_stats(loweredText: Column, positions: Column, k: Int): Column =
    GraftInterop.column(DedupSpanStatsExpr(
      GraftInterop.expression(loweredText), GraftInterop.expression(positions), k))

  /** 0-based positions of the k-token windows of `text` whose hash is
    * in the SORTED `evalHashes` array (binary search per window —
    * signed order on both sides). Position-ordered, so the output can
    * feed [[dedupSpanStats]] directly.
    */
  def contamPositions(text: UTF8String, evalHashes: Array[Long], k: Int): ArrayData = {
    val wh = windowHashes(text, k)
    val m = wh.numElements()
    val tmp = new Array[Int](m)
    var n = 0
    var i = 0
    while (i < m) {
      if (java.util.Arrays.binarySearch(evalHashes, wh.getLong(i)) >= 0) {
        tmp(n) = i
        n += 1
      }
      i += 1
    }
    val out = new Array[Any](n)
    var j = 0
    while (j < n) { out(j) = tmp(j); j += 1 }
    new GenericArrayData(out)
  }

  /** The eval-hash table rides a `Broadcast` (ships once per executor,
    * like [[Bpe.BpeCountExpr]]'s merges table) — an eval corpus is
    * ~10^5..10^6 windows = single-digit MB that must not re-serialize
    * with every task.
    */
  case class ContamPositionsExpr(
      child: Expression, bcast: Broadcast[Array[Long]], k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "contam_positions"
    override def nullSafeEval(input: Any): Any =
      contamPositions(input.asInstanceOf[UTF8String], bcast.value, k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("evalHashes", bcast,
        classOf[Broadcast[Array[Long]]].getName)
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.textops.SpanDedup.contamPositions(" +
          s"$input, (long[]) $ref.value(), $k);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def contam_positions(loweredText: Column, bcast: Broadcast[Array[Long]], k: Int): Column =
    GraftInterop.column(ContamPositionsExpr(GraftInterop.expression(loweredText), bcast, k))

  /** Eval-set decontamination — the asymmetric form of [[dedupSpans]]
    * and the canonical pre-training step the GPT-3/Gopher/Llama reports
    * describe: flag (and trim) corpus documents that share any k-token
    * window with a SMALL eval/benchmark corpus, so the training set
    * cannot memorize its own test questions.
    *
    * Returns one row per corpus row: (idCol, n_tokens,
    * n_overlap_windows, flagged, n_dropped, text_clean) where
    * `n_overlap_windows` counts the corpus doc's window OCCURRENCES
    * hitting the eval set, `flagged` = any hit, and `text_clean` is the
    * lowered text with every contaminated window's tokens removed
    * (empty when the whole doc is contaminated) — callers drop flagged
    * docs or keep the trimmed text, per their tolerance.
    *
    * 100 TB shape: the EVAL side is small by definition (a benchmark
    * suite, not a crawl) — its distinct window hashes are collected
    * once and broadcast (`maxEvalWindows` guards the driver against a
    * misrouted large frame); the CORPUS side is one narrow codegen'd
    * scan — ZERO shuffles, no join, nothing to skew. Matching is
    * 64-bit window-hash equality (same vanishing-collision argument as
    * [[dedupSpans]]); both sides tokenize with the family's lowered
    * whitespace tokenizer.
    *
    * Each call collects and BROADCASTS the eval hash set anew (same
    * per-invocation broadcast contract as [[NgramLm.lm_score]]); the
    * broadcast lives until the SparkContext is stopped. A per-batch
    * caller looping over micro-batches against the SAME eval set
    * should call once, reuse the returned plan, or use
    * [[decontaminateAgainstIndex]] (which keys off a persisted index
    * instead of a per-call broadcast).
    */
  def decontaminate(
      df: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, evalTextCol: String,
      k: Int = 8, maxEvalWindows: Int = 5000000): DataFrame = {
    require(k >= 2, s"decontaminate: k must be >= 2 (got $k)")
    require(maxEvalWindows > 0,
      s"decontaminate: maxEvalWindows must be positive (got $maxEvalWindows)")
    val spark = df.sparkSession
    // distinct window hashes of the eval corpus; limit bounds driver
    // memory BEFORE collect so an oversized frame fails the require
    // below instead of an OOM
    // overflow-safe +1: maxEvalWindows = Int.MaxValue must not wrap the
    // limit negative
    val probeLimit = math.min(maxEvalWindows.toLong + 1L, Int.MaxValue.toLong).toInt
    val evalRows = evalDf
      .select(explode(window_hashes(lower(col(evalTextCol)), k)).as("_wh"))
      .distinct().limit(probeLimit).collect()
    require(evalRows.length <= maxEvalWindows,
      s"decontaminate: eval corpus has more than $maxEvalWindows distinct " +
        s"$k-token windows — this operator broadcasts the eval side; pass the " +
        "corpus-scale frame as `df` and raise maxEvalWindows only deliberately")
    val hashes = evalRows.map(_.getLong(0))
    java.util.Arrays.sort(hashes)
    val bcast = spark.sparkContext.broadcast(hashes)
    // null text folds to '' (0 tokens, unflagged, empty text_clean):
    // a null would propagate into `flagged`, and a downstream
    // filter(!flagged) silently drops null rather than passing it.
    // widen: the window-hash + binary-search + span-stats pass is
    // narrow CPU on the input's partitioning (one task over a
    // checkpointed pipeline stage at bench scale; see Widen)
    graft.operators.Widen.widen(
      df.select(col(idCol).as("_dc_id"), col(textCol).as("_dc_raw")))
      .select(col("_dc_id"),
        lower(coalesce(col("_dc_raw"), lit(""))).as("_dc_txt"))
      .withColumn("_dc_pos", contam_positions(col("_dc_txt"), bcast, k))
      .withColumn("_dc_st", dedup_span_stats(col("_dc_txt"), col("_dc_pos"), k))
      .select(col("_dc_id").as(idCol),
        col("_dc_st.n_tokens").as("n_tokens"),
        size(col("_dc_pos")).cast("long").as("n_overlap_windows"),
        (size(col("_dc_pos")) > 0).as("flagged"),
        col("_dc_st.n_dropped").as("n_dropped"),
        col("_dc_st.text_dedup").as("text_clean"))
  }

  /** Per-eval-document contamination report — [[decontaminate]]'s
    * REVERSE view, the table every model paper publishes (GPT-3
    * appendix C; PaLM §C.2): for each eval/benchmark document, how
    * much of it leaked into the training corpus. A window "leaks"
    * when its k-token form occurs in any corpus document; the report
    * gives the distinct-window leak fraction and the count of
    * distinct corpus documents touching the eval doc.
    *
    * Output: (evalIdCol, n_windows, n_matched_windows, n_docs_hit,
    * contamination_x10000) — n_windows counts the eval doc's DISTINCT
    * k-token windows (the fraction's denominator); eval docs shorter
    * than k have 0 windows and 0 contamination.
    *
    * 100 TB shape: the corpus side is ONE narrow window-hash scan;
    * the eval side (distinct (eval_id, window-hash), bounded by
    * `maxEvalWindows` BEFORE broadcast) broadcasts, so the only
    * shuffle is the matched-pair distinct aggregation — bounded by
    * the leak volume, not the corpus. Matching is 64-bit window-hash
    * equality (the family's vanishing-collision argument; the oracle
    * matches literal token windows).
    */
  def contaminationReport(
      df: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, evalIdCol: String, evalTextCol: String,
      k: Int = 8, maxEvalWindows: Int = 5000000): DataFrame = {
    require(k >= 2, s"contaminationReport: k must be >= 2 (got $k)")
    // bounded BEFORE broadcast (the decontaminate guard), checkpointed
    // ONCE: the guard count, the broadcast build and the totals
    // aggregate otherwise each re-run the eval tokenize+distinct
    val evalW = evalWindowsChecked(
      evalDf.select(col(evalIdCol).as("_cr_eid"),
        explode(window_hashes(lower(coalesce(col(evalTextCol), lit(""))), k))
          .as("_cr_wh")),
      maxEvalWindows,
      "contaminationReport: eval corpus has more than %d distinct " +
        "(doc, window) pairs — the eval side broadcasts; raise maxEvalWindows " +
        "only deliberately")
    // widen: the corpus tokenize+window-hash pass dominates and runs on
    // the scan's partitioning (see Widen; identity at corpus scale)
    val corpusW = graft.operators.Widen.widen(
      df.select(col(idCol).as("_cr_did"), col(textCol).as("_cr_txt")))
      .select(col("_cr_did"),
        explode(window_hashes(lower(coalesce(col("_cr_txt"), lit(""))), k))
          .as("_cr_wh"))
    val matched = corpusW.join(broadcast(evalW), Seq("_cr_wh"))
      .select("_cr_eid", "_cr_did", "_cr_wh").distinct()
      .groupBy(col("_cr_eid"))
      .agg(countDistinct(col("_cr_wh")).as("n_matched_windows"),
        countDistinct(col("_cr_did")).as("n_docs_hit"))
    val totals = evalW.groupBy(col("_cr_eid"))
      .agg(count(lit(1)).as("n_windows"))
    evalDf.select(col(evalIdCol).as("_cr_eid")).distinct()
      .join(totals, Seq("_cr_eid"), "left")
      .join(matched, Seq("_cr_eid"), "left")
      .withColumn("n_windows", coalesce(col("n_windows"), lit(0L)))
      .withColumn("n_matched_windows",
        coalesce(col("n_matched_windows"), lit(0L)))
      .withColumn("n_docs_hit", coalesce(col("n_docs_hit"), lit(0L)))
      .withColumn("contamination_x10000",
        when(col("n_windows") === 0, lit(0L)).otherwise(expr(
          "CAST(n_matched_windows * 10000 DIV n_windows AS BIGINT)")))
      .select(col("_cr_eid").as(evalIdCol), col("n_windows"),
        col("n_matched_windows"), col("n_docs_hit"),
        col("contamination_x10000"))
  }

  /** Multi-benchmark contamination dashboard (round-10 verdict item
    * 7 — the per-release table a curation team tracks): N eval
    * corpora scanned against the training corpus in ONE pass. `evals`
    * carries (benchCol, evalIdCol, evalTextCol); all benchmarks'
    * windows broadcast together (bounded by `maxEvalWindows`, the
    * [[contaminationReport]] guard), the corpus is scanned once, and
    * the aggregation reduces to one row per benchmark:
    * (benchmark, n_eval_docs, n_windows, n_matched_windows,
    * n_docs_hit, n_contaminated_docs, contamination_x10000,
    * docs_x10000) — window-level leak fraction AND the
    * fraction-of-eval-docs-touched number the PaLM §C.2 table
    * reports. Eval ids must be unique ACROSS benchmarks only if the
    * same doc should not double-count; the group key is
    * (benchmark, eval_id), so shared ids across benchmarks are fine.
    */
  def contaminationDashboard(
      df: DataFrame, idCol: String, textCol: String,
      evals: DataFrame, benchCol: String, evalIdCol: String,
      evalTextCol: String, k: Int = 8,
      maxEvalWindows: Int = 5000000): DataFrame = {
    require(k >= 2, s"contaminationDashboard: k must be >= 2 (got $k)")
    // checkpoint the bounded eval side ONCE (the indexed dashboard's
    // discipline): it otherwise re-derives for the guard count, the
    // broadcast build AND the totals aggregate — three tokenize+
    // explode+distinct executions of the same small frame
    val evalW = evalWindowsChecked(
      evals.select(col(benchCol).as("_cd_b"), col(evalIdCol).as("_cd_eid"),
        explode(window_hashes(lower(coalesce(col(evalTextCol), lit(""))), k))
          .as("_cd_wh")),
      maxEvalWindows,
      "contaminationDashboard: eval corpora exceed %d distinct " +
        "(benchmark, doc, window) triples — the eval side broadcasts; raise " +
        "maxEvalWindows only deliberately")
    val evalDocs = evals.select(col(benchCol).as("_cd_b"),
      col(evalIdCol).as("_cd_eid")).distinct()
      .groupBy(col("_cd_b")).agg(count(lit(1)).as("n_eval_docs"))
    dashboardCore(df, idCol, textCol, benchCol, evalW, evalDocs, k)
  }

  /** The dashboard's corpus scan + aggregation given a pre-checked
    * (checkpointed) eval-window frame — shared by
    * [[contaminationDashboard]] and [[contaminationTrend]] (which
    * scans TWO corpus snapshots against the SAME eval side and must
    * not rebuild it per snapshot).
    */
  private def dashboardCore(
      df: DataFrame, idCol: String, textCol: String, benchCol: String,
      evalW: DataFrame, evalDocs: DataFrame, k: Int): DataFrame = {
    // widen: the corpus tokenize+window-hash pass is the dominant CPU
    // and runs on the scan's partitioning (ONE task on a single-file
    // bench table; identity at corpus scale — see Widen)
    val corpusW = graft.operators.Widen.widen(
      df.select(col(idCol).as("_cd_did"), col(textCol).as("_cd_txt")))
      .select(col("_cd_did"),
        explode(window_hashes(lower(coalesce(col("_cd_txt"), lit(""))), k))
          .as("_cd_wh"))
    val matched = corpusW.join(broadcast(evalW), Seq("_cd_wh"))
      .select("_cd_b", "_cd_eid", "_cd_did", "_cd_wh").distinct()
    val perBenchMatch = matched.groupBy(col("_cd_b"))
      .agg(
        countDistinct(col("_cd_eid"), col("_cd_wh")).as("n_matched_windows"),
        countDistinct(col("_cd_did")).as("n_docs_hit"),
        countDistinct(col("_cd_eid")).as("n_contaminated_docs"))
    val totals = evalW.groupBy(col("_cd_b"))
      .agg(count(lit(1)).as("n_windows"))
    evalDocs
      .join(totals, Seq("_cd_b"), "left")
      .join(perBenchMatch, Seq("_cd_b"), "left")
      .withColumn("n_windows", coalesce(col("n_windows"), lit(0L)))
      .withColumn("n_matched_windows",
        coalesce(col("n_matched_windows"), lit(0L)))
      .withColumn("n_docs_hit", coalesce(col("n_docs_hit"), lit(0L)))
      .withColumn("n_contaminated_docs",
        coalesce(col("n_contaminated_docs"), lit(0L)))
      .withColumn("contamination_x10000",
        when(col("n_windows") === 0, lit(0L)).otherwise(expr(
          "CAST(n_matched_windows * 10000 DIV n_windows AS BIGINT)")))
      .withColumn("docs_x10000",
        when(col("n_eval_docs") === 0, lit(0L)).otherwise(expr(
          "CAST(n_contaminated_docs * 10000 DIV n_eval_docs AS BIGINT)")))
      .select(col("_cd_b").as(benchCol), col("n_eval_docs"),
        col("n_windows"), col("n_matched_windows"), col("n_docs_hit"),
        col("n_contaminated_docs"), col("contamination_x10000"),
        col("docs_x10000"))
  }

  /** [[contaminationDashboard]] against a PERSISTED span index
    * instead of a corpus scan — the 100 TB release loop: the corpus's
    * window index already exists (built once for substring dedup),
    * so the per-release dashboard probes it with only the eval
    * windows in hand, scanning ZERO corpus bytes. The index is
    * window-grain (no doc ids), so the output drops `n_docs_hit`;
    * every other column matches the scanning dashboard exactly
    * (SpanDedupSpec pins the equality). Bucket pruning pushes the
    * (≤256) touched `pb` partitions into the index scan — the
    * decontaminateAgainstIndex discipline; the eval side is small by
    * contract, so the prune pass is cheap and always on.
    */
  def contaminationDashboardIndexed(
      spark: org.apache.spark.sql.SparkSession, corpusIndexDir: String,
      evals: DataFrame, benchCol: String, evalIdCol: String,
      evalTextCol: String, k: Int = 8,
      maxEvalWindows: Int = 5000000): DataFrame = {
    require(k >= 2, s"contaminationDashboardIndexed: k must be >= 2 (got $k)")
    val evalW = evalWindowsChecked(
      evals.select(col(benchCol).as("_cd_b"), col(evalIdCol).as("_cd_eid"),
        explode(window_hashes(lower(coalesce(col(evalTextCol), lit(""))), k))
          .as("_cd_wh")),
      maxEvalWindows,
      "contaminationDashboardIndexed: eval corpora exceed %d " +
        "distinct (benchmark, doc, window) triples; raise maxEvalWindows " +
        "only deliberately")
    val winPath = new org.apache.hadoop.fs.Path(s"$corpusIndexDir/windows.parquet")
    val winExists = winPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(winPath)
    val matched =
      if (!winExists)
        evalW.select(col("_cd_b"), col("_cd_eid"), col("_cd_wh")).limit(0)
      else {
        val pbs = evalW
          .select(pmod(col("_cd_wh"), lit(SpanIndexBuckets.toLong))
            .cast("int").as("pb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // NO distinct on the index side: `matched` feeds only
        // countDistinct aggregates below, so duplicate (wh) hits cannot
        // change a result row — and dropping it removes the dashboard's
        // one corpus-sized shuffle (distinct over every pruned-bucket
        // window). With the small checked eval side broadcast, the
        // probe is a single streaming pass over the pruned index scan.
        val hist = spark.read.parquet(s"$corpusIndexDir/windows.parquet")
          .filter(col("pb").isin(pbs: _*))
          .select(col("wh").as("_cd_wh"))
        broadcast(evalW).join(hist, Seq("_cd_wh"))
          .select(col("_cd_b"), col("_cd_eid"), col("_cd_wh"))
      }
    val perBenchMatch = matched.groupBy(col("_cd_b"))
      .agg(
        countDistinct(col("_cd_eid"), col("_cd_wh")).as("n_matched_windows"),
        countDistinct(col("_cd_eid")).as("n_contaminated_docs"))
    val totals = evalW.groupBy(col("_cd_b"))
      .agg(count(lit(1)).as("n_windows"))
    val evalDocs = evals.select(col(benchCol).as("_cd_b"),
      col(evalIdCol).as("_cd_eid")).distinct()
      .groupBy(col("_cd_b")).agg(count(lit(1)).as("n_eval_docs"))
    evalDocs
      .join(totals, Seq("_cd_b"), "left")
      .join(perBenchMatch, Seq("_cd_b"), "left")
      .withColumn("n_windows", coalesce(col("n_windows"), lit(0L)))
      .withColumn("n_matched_windows",
        coalesce(col("n_matched_windows"), lit(0L)))
      .withColumn("n_contaminated_docs",
        coalesce(col("n_contaminated_docs"), lit(0L)))
      .withColumn("contamination_x10000",
        when(col("n_windows") === 0, lit(0L)).otherwise(expr(
          "CAST(n_matched_windows * 10000 DIV n_windows AS BIGINT)")))
      .withColumn("docs_x10000",
        when(col("n_eval_docs") === 0, lit(0L)).otherwise(expr(
          "CAST(n_contaminated_docs * 10000 DIV n_eval_docs AS BIGINT)")))
      .select(col("_cd_b").as(benchCol), col("n_eval_docs"),
        col("n_windows"), col("n_matched_windows"),
        col("n_contaminated_docs"), col("contamination_x10000"),
        col("docs_x10000"))
  }

  /** Contamination TREND across two corpus snapshots (q151 × q85 —
    * "did this release leak more than the last one?"): the dashboard
    * over `prev` and `cur`, joined per benchmark with the signed
    * delta of the window-level leak fraction. Two corpus scans (one
    * per snapshot — unavoidable), one shared eval broadcast shape.
    */
  def contaminationTrend(
      prev: DataFrame, cur: DataFrame, idCol: String, textCol: String,
      evals: DataFrame, benchCol: String, evalIdCol: String,
      evalTextCol: String, k: Int = 8,
      maxEvalWindows: Int = 5000000): DataFrame = {
    require(k >= 2, s"contaminationTrend: k must be >= 2 (got $k)")
    // ONE eval side for both snapshots: the eval windows and per-bench
    // doc counts are snapshot-independent, so building them per
    // dashboard (as the pre-round-17 code did via two full
    // contaminationDashboard calls) doubled the eval tokenize+distinct
    // work for identical results
    val evalW = evalWindowsChecked(
      evals.select(col(benchCol).as("_cd_b"), col(evalIdCol).as("_cd_eid"),
        explode(window_hashes(lower(coalesce(col(evalTextCol), lit(""))), k))
          .as("_cd_wh")),
      maxEvalWindows,
      "contaminationTrend: eval corpora exceed %d distinct " +
        "(benchmark, doc, window) triples — the eval side broadcasts; raise " +
        "maxEvalWindows only deliberately")
    val evalDocs = evals.select(col(benchCol).as("_cd_b"),
      col(evalIdCol).as("_cd_eid")).distinct()
      .groupBy(col("_cd_b")).agg(count(lit(1)).as("n_eval_docs"))
      .localCheckpoint()
    val p = dashboardCore(prev, idCol, textCol, benchCol, evalW, evalDocs, k)
      .select(col(benchCol),
        col("contamination_x10000").as("prev_x10000"),
        col("n_docs_hit").as("prev_docs_hit"))
    val c = dashboardCore(cur, idCol, textCol, benchCol, evalW, evalDocs, k)
    c.join(p, Seq(benchCol))
      .withColumn("delta_x10000",
        col("contamination_x10000") - col("prev_x10000"))
  }

  /** Distinct + bounded-size guard + eager localCheckpoint for an
    * eval-window frame. The guard is a bounded probe, so an oversized
    * eval corpus fails before anything is materialized; the checkpoint
    * then lets the broadcast build and the totals aggregate share ONE
    * execution of the eval tokenize/explode/distinct.
    */
  private def evalWindowsChecked(
      raw: DataFrame, maxEvalWindows: Int, msgFmt: String): DataFrame = {
    require(maxEvalWindows > 0,
      s"evalWindows: maxEvalWindows must be positive (got $maxEvalWindows)")
    val evalW = raw.distinct()
    // overflow-safe +1 (the decontaminate probe)
    val probeLimit = math.min(maxEvalWindows.toLong + 1L, Int.MaxValue.toLong).toInt
    require(evalW.limit(probeLimit).count() <= maxEvalWindows,
      msgFmt.format(maxEvalWindows))
    evalW.localCheckpoint()
  }

  /** Number of hash-derived partitions the span index's window file is
    * written under — the probe prunes to the buckets a batch actually
    * touches.
    */
  private val SpanIndexBuckets = 256

  /** Persist a SPAN index for incremental substring dedup:
    * `dir/ids.parquet` (the ingestion ledger — every ingested doc id)
    * and `dir/windows.parquet` (wh, partitioned by `pb = wh mod 256`)
    * holding every k-token window hash seen so far. New batches trim
    * against history without rescanning it
    * ([[dedupSpansNewBatch]]). Same k as the probe or the hashes
    * won't align.
    */
  def buildSpanIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 8): Unit =
    writeSpanIndex(df, idCol, textCol, dir, k, "overwrite")

  /** Append a batch (its ids, then its distinct window hashes) to a
    * persisted span index. LEDGER FIRST: a crash between the two
    * writes leaves ids whose windows are missing — those windows lose
    * dedup power for later batches, but a REPLAY of the batch is still
    * dropped by the ledger, which is the corruption that matters (the
    * reverse order would let a replayed batch trim itself against its
    * own just-appended windows and emit garbage). Caller contract:
    * batch ids are new and ascend across batches (history-wins
    * semantics equal the global run only when later batches have
    * larger ids — SpanIndexSpec pins it).
    */
  def appendToSpanIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 8): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "append-span") {
      writeSpanIndex(df, idCol, textCol, dir, k, "append")
    }

  private def writeSpanIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int, mode: String): Unit = {
    df.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode(mode).parquet(s"$dir/ids.parquet")
    df.select(explode(
        window_hashes(lower(coalesce(col(textCol), lit(""))), k)).as("wh"))
      .distinct()
      .withColumn("pb", pmod(col("wh"), lit(SpanIndexBuckets.toLong)).cast("int"))
      .write.mode(mode).partitionBy("pb").parquet(s"$dir/windows.parquet")
  }

  /** Incremental substring dedup of a NEW batch against a persisted
    * span index: (1) ids already in the ledger are dropped whole
    * (replayed batch → no rows, the at-least-once contract);
    * (2) within the batch, [[dedupSpans]]'s first-occurrence logic
    * applies; (3) additionally, any window whose hash exists in
    * HISTORY is trimmed (history always wins — equal to the global
    * run when ids ascend across batches). Returns [[dedupSpans]]'s
    * schema for the surviving batch rows. The caller appends the
    * batch afterwards ([[appendToSpanIndex]]) so the next batch sees
    * it — [[graft.streaming.StreamingOps.spanDedupIngest]] wires both.
    *
    * 100 TB shape: the history side is NEVER reshuffled — the probe
    * prunes `windows.parquet` to the (≤256) hash buckets the batch
    * touches, and the window equi-join's small side is the BATCH
    * (AQE broadcasts it at typical batch sizes, leaving history
    * scan-only); everything else is the linear dedupSpans machinery.
    */
  def dedupSpansNewBatch(df: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"dedupSpansNewBatch: k must be >= 2 (got $k)")
    val spark = df.sparkSession
    val unledgered = graft.operators.IndexOps.unledgered(df, idCol, s"$dir/ids.parquet")
    val fresh = unledgered.getOrElse(df)
    val base = fresh.select(col(idCol).as("_sd_id"),
      lower(coalesce(col(textCol), lit(""))).as("_sd_txt"))
    val occ = base.select(col("_sd_id"),
      posexplode(window_hashes(col("_sd_txt"), k)).as(Seq("_pos", "_wh")))
    val w = Window.partitionBy("_wh")
    val inBatch = occ
      .withColumn("_first_id", min(col("_sd_id")).over(w))
      .withColumn("_first_pos",
        min(when(col("_sd_id") === col("_first_id"), col("_pos"))).over(w))
      .filter(col("_sd_id") > col("_first_id") ||
        (col("_sd_id") === col("_first_id") && col("_pos") > col("_first_pos")))
      .select(col("_sd_id"), col("_pos"))
    val dups = if (unledgered.isEmpty) inBatch else {
      val winPath = new org.apache.hadoop.fs.Path(s"$dir/windows.parquet")
      val winExists = winPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(winPath)
      if (!winExists) inBatch // ledger-only crash state: no history windows
      else {
        // prune history to the hash buckets this batch touches (a
        // bounded <=256-value driver collect), then equi-join on the
        // hash — the batch side is the small one
        val pbs = occ
          .select(pmod(col("_wh"), lit(SpanIndexBuckets.toLong)).cast("int").as("pb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val hist = spark.read.parquet(s"$dir/windows.parquet")
          .filter(col("pb").isin(pbs: _*)).select(col("wh").as("_wh"))
        val fromHistory = occ.join(hist, Seq("_wh"))
          .select(col("_sd_id"), col("_pos"))
        inBatch.unionByName(fromHistory).distinct()
      }
    }
    val perDoc = dups.groupBy("_sd_id")
      .agg(sort_array(collect_list(col("_pos"))).as("_dps"))
    base.join(perDoc, Seq("_sd_id"), "left")
      .withColumn("_st", dedup_span_stats(col("_sd_txt"),
        coalesce(col("_dps"), typedLit(Seq.empty[Int])), k))
      .select(col("_sd_id").as(idCol),
        col("_st.n_tokens").as("n_tokens"),
        col("_st.n_dropped").as("n_dropped"),
        col("_st.text_dedup").as("text_dedup"))
  }

  /** [[decontaminate]] for eval corpora too large to broadcast: the
    * eval set's window hashes live in a persisted span index
    * ([[buildSpanIndex]] over the eval corpus), and the corpus probes
    * it by JOIN instead of broadcast — bucket-pruned history scan,
    * corpus-window side shuffled on the hash (or the eval side
    * broadcast by AQE when it measures small, collapsing to the
    * [[decontaminate]] plan). Output schema and semantics match
    * [[decontaminate]] exactly (DecontamIndexSpec pins equality on a
    * shared corpus); the index's id LEDGER is ignored — eval docs are
    * not being ingested, only matched against.
    */
  def decontaminateAgainstIndex(
      df: DataFrame, idCol: String, textCol: String,
      evalIndexDir: String, k: Int = 8,
      bucketPrune: Boolean = true): DataFrame = {
    require(k >= 2, s"decontaminateAgainstIndex: k must be >= 2 (got $k)")
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("_dc_id"),
      lower(coalesce(col(textCol), lit(""))).as("_dc_txt"))
    val occ = base.select(col("_dc_id"),
      posexplode(window_hashes(col("_dc_txt"), k)).as(Seq("_pos", "_wh")))
    val winPath = new org.apache.hadoop.fs.Path(s"$evalIndexDir/windows.parquet")
    val winExists = winPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(winPath)
    val hits =
      if (!winExists) occ.select(col("_dc_id"), col("_pos")).limit(0)
      else {
        // bucketPrune collects the probe side's (<=256) touched hash
        // buckets — a FULL extra pass over the probe frame. Worth it
        // when probing a small batch against a large eval index;
        // disable for corpus-scale probes, where every bucket is
        // touched and the pass is pure waste.
        val histAll = spark.read.parquet(s"$evalIndexDir/windows.parquet")
        val hist =
          if (!bucketPrune) histAll
          else {
            val pbs = occ
              .select(pmod(col("_wh"), lit(SpanIndexBuckets.toLong)).cast("int").as("pb"))
              .distinct().collect().map(_.getInt(0)).toSeq
            histAll.filter(col("pb").isin(pbs: _*))
          }
        // distinct: an eval index grown by appends holds duplicate wh
        // rows (per-batch distinct only) — without the dedup a shared
        // window would double-count n_overlap_windows and break the
        // documented equality with [[decontaminate]]
        occ.join(hist.select(col("wh").as("_wh")).distinct(), Seq("_wh"))
          .select(col("_dc_id"), col("_pos"))
      }
    val perDoc = hits.groupBy("_dc_id")
      .agg(sort_array(collect_list(col("_pos"))).as("_dps"),
        count(lit(1)).as("_novr"))
    base.join(perDoc, Seq("_dc_id"), "left")
      .withColumn("_st", dedup_span_stats(col("_dc_txt"),
        coalesce(col("_dps"), typedLit(Seq.empty[Int])), k))
      .select(col("_dc_id").as(idCol),
        col("_st.n_tokens").as("n_tokens"),
        coalesce(col("_novr"), lit(0L)).as("n_overlap_windows"),
        (coalesce(col("_novr"), lit(0L)) > 0).as("flagged"),
        col("_st.n_dropped").as("n_dropped"),
        col("_st.text_dedup").as("text_clean"))
  }

  /** Corpus-wide duplicated-span removal. Returns one row per input row:
    * (idCol, n_tokens, n_dropped, text_dedup) where `text_dedup` is the
    * lowered kept tokens joined by single spaces (empty string when the
    * whole document is duplicated), `n_tokens` the original token count.
    * `k` is the minimum duplicate span length in tokens: shorter shared
    * substrings are never trimmed; any shared run of >= k tokens is
    * trimmed down to its single globally-first occurrence (overlapping
    * duplicate windows merge into one span).
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"dedupSpans: k must be >= 2 (got $k); k=1 would trim every repeated token")
    // null text folds to '' — same contract as [[decontaminate]]: a
    // null would null out the whole stats struct and vanish from
    // downstream boolean filters instead of passing through
    // widen: both consumers of `base` (the window-hash explode and the
    // final span-stats rebuild) are narrow CPU over the input's
    // partitioning — one task over a checkpointed pipeline stage at
    // bench scale; the two branches reuse the one widen exchange
    val base = graft.operators.Widen.widen(
      df.select(col(idCol).as("_sd_id"), col(textCol).as("_sd_raw")))
      .select(col("_sd_id"),
        lower(coalesce(col("_sd_raw"), lit(""))).as("_sd_txt"))
    val occ = base.select(col("_sd_id"),
      posexplode(window_hashes(col("_sd_txt"), k)).as(Seq("_pos", "_wh")))
    // first occurrence = min (id, pos) per hash, as two plain `min`
    // window aggregates over ONE hash partitioning — min(struct) would
    // plan a SortAggregate (PLANS.md), and a row_number would force a
    // full sort of hot boilerplate buckets
    val w = Window.partitionBy("_wh")
    val dups = occ
      .withColumn("_first_id", min(col("_sd_id")).over(w))
      .withColumn("_first_pos",
        min(when(col("_sd_id") === col("_first_id"), col("_pos"))).over(w))
      .filter(col("_sd_id") > col("_first_id") ||
        (col("_sd_id") === col("_first_id") && col("_pos") > col("_first_pos")))
      .select(col("_sd_id"), col("_pos"))
    val perDoc = dups.groupBy("_sd_id")
      .agg(sort_array(collect_list(col("_pos"))).as("_dps"))
    base.join(perDoc, Seq("_sd_id"), "left")
      .withColumn("_st", dedup_span_stats(col("_sd_txt"),
        coalesce(col("_dps"), typedLit(Seq.empty[Int])), k))
      .select(col("_sd_id").as(idCol),
        col("_st.n_tokens").as("n_tokens"),
        col("_st.n_dropped").as("n_dropped"),
        col("_st.text_dedup").as("text_dedup"))
  }

  // ---------------------------------------------------------------
  // exact maximal duplicated substrings (ExactSubstr-style, q132)
  // ---------------------------------------------------------------

  /** Tokenize by the same whitespace walk [[windowHashes]] uses;
    * returns token strings (original bytes, caller lowers upstream).
    */
  private def tokenStrings(text: UTF8String): Array[String] = {
    val bytes = text.getBytes
    val len = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < len) {
      while (i < len && TokenShingles.isWs(bytes(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !TokenShingles.isWs(bytes(i))) i += 1
        out += new String(bytes, start, i - start,
          java.nio.charset.StandardCharsets.UTF_8)
      }
    }
    out.toArray
  }

  /** Literal k-token window texts at the requested (sorted, 0-based)
    * token positions: array<struct<pos:int, wt:string>> — the payload
    * the exact-dedup shuffle carries ONLY for hash-gated candidate
    * windows. Positions past the last full window are skipped.
    */
  def windowTextsAt(text: UTF8String, positions: ArrayData, k: Int): ArrayData = {
    val toks = tokenStrings(text)
    val m = toks.length - k + 1
    val npos = positions.numElements()
    val out = new Array[Any](npos)
    var n = 0
    var pi = 0
    while (pi < npos) {
      val p = positions.getInt(pi)
      if (p >= 0 && p < m) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(p + j))
          j += 1
        }
        out(n) = new GenericInternalRow(Array[Any](
          p, UTF8String.fromString(sb.toString)))
        n += 1
      }
      pi += 1
    }
    new GenericArrayData(if (n == npos) out else out.take(n))
  }

  /** Merge sorted duplicate-window positions into maximal covered
    * spans ([p, p+k) unions; adjacent-or-overlapping runs coalesce):
    * array<struct<start:int, len:int, text:string>> where `text` is
    * the span's tokens joined by single spaces — the EXACT duplicated
    * substring, boundary-precise because the window stride is 1.
    */
  def coveredSpans(text: UTF8String, positions: ArrayData, k: Int): ArrayData = {
    val toks = tokenStrings(text)
    val nTok = toks.length
    val npos = positions.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def emit(start: Int, end: Int): Unit = {
      val e = math.min(end, nTok)
      if (e > start) {
        val sb = new java.lang.StringBuilder
        var j = start
        while (j < e) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        out += new GenericInternalRow(Array[Any](
          start, e - start, UTF8String.fromString(sb.toString)))
      }
    }
    var pi = 0
    var start = -1
    var end = -1
    while (pi < npos) {
      val p = positions.getInt(pi)
      if (start < 0) { start = p; end = p + k }
      else if (p <= end) { if (p + k > end) end = p + k }
      else { emit(start, end); start = p; end = p + k }
      pi += 1
    }
    if (start >= 0) emit(start, end)
    new GenericArrayData(out.toArray)
  }

  case class WindowTextsAtExpr(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("wt", StringType, nullable = false))), containsNull = false)
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "window_texts_at"
    override def nullSafeEval(text: Any, positions: Any): Any =
      windowTextsAt(text.asInstanceOf[UTF8String], positions.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (text, positions) =>
        s"${ev.value} = graft.textops.SpanDedup.windowTextsAt($text, $positions, $k);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class CoveredSpansExpr(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false))), containsNull = false)
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "covered_spans"
    override def nullSafeEval(text: Any, positions: Any): Any =
      coveredSpans(text.asInstanceOf[UTF8String], positions.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (text, positions) =>
        s"${ev.value} = graft.textops.SpanDedup.coveredSpans($text, $positions, $k);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def window_texts_at(text: Column, positions: Column, k: Int): Column =
    GraftInterop.column(WindowTextsAtExpr(
      GraftInterop.expression(text), GraftInterop.expression(positions), k))

  def covered_spans(text: Column, positions: Column, k: Int): Column =
    GraftInterop.column(CoveredSpansExpr(
      GraftInterop.expression(text), GraftInterop.expression(positions), k))

  /** EXACT all-duplicated-substring discovery (the Lee et al. 2022
    * ExactSubstr shape, re-expressed for Spark): one row per MAXIMAL
    * duplicated token span — a run of >= k tokens whose every k-window
    * also occurs at a strictly earlier (doc_id, pos). Boundary-exact:
    * the window stride is 1, so the union of duplicated windows covers
    * precisely the tokens inside shared runs of length >= k (any such
    * token lies inside some fully-shared window), and NO hash ever
    * decides a result — window hashes only GATE which windows pay for
    * carrying literal text (a hash collision adds a candidate whose
    * singleton literal group then drops; identical windows always
    * share a hash, so nothing is missed).
    *
    * 100 TB shape: phase 1 shuffles (hash, id, pos) rows only; the
    * literal k-token window payload (~k tokens per row, the price of
    * exactness — a suffix array ships the same bytes) is carried ONLY
    * by windows whose hash occurs twice or more. No suffix array over
    * the corpus, no pair join: first-occurrence is two plain `min`
    * window aggregates per literal window group (the [[dedupSpans]]
    * SortAggregate-avoidance discipline).
    *
    * Output: (idCol, span_start, span_len, span_text) — 0-based token
    * offsets into the LOWERED tokenization, span_text the exact
    * duplicated substring (tokens joined by single spaces).
    */
  def exactSpans(df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"exactSpans: k must be >= 2 (got $k)")
    val base = df.select(col(idCol).as("_es_id"),
      lower(coalesce(col(textCol), lit(""))).as("_es_txt"))
    val occ = base.select(col("_es_id"),
      posexplode(window_hashes(col("_es_txt"), k)).as(Seq("_pos", "_wh")))
    val cand = occ.groupBy("_wh").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select("_wh")
    val candPos = occ.join(cand, "_wh").groupBy("_es_id")
      .agg(sort_array(collect_list(col("_pos"))).as("_cps"))
    val wts = base.join(candPos, Seq("_es_id"))
      .select(col("_es_id"),
        explode(window_texts_at(col("_es_txt"), col("_cps"), k)).as("_w"))
      .select(col("_es_id"), col("_w.pos").as("_pos"), col("_w.wt").as("_wt"))
    val w = Window.partitionBy("_wt")
    val dups = wts
      .withColumn("_first_id", min(col("_es_id")).over(w))
      .withColumn("_first_pos",
        min(when(col("_es_id") === col("_first_id"), col("_pos"))).over(w))
      .filter(col("_es_id") > col("_first_id") ||
        (col("_es_id") === col("_first_id") && col("_pos") > col("_first_pos")))
      .select(col("_es_id"), col("_pos"))
    val perDoc = dups.groupBy("_es_id")
      .agg(sort_array(collect_list(col("_pos"))).as("_dps"))
    base.join(perDoc, Seq("_es_id"))
      .select(col("_es_id").as(idCol),
        explode(covered_spans(col("_es_txt"), col("_dps"), k)).as("_sp"))
      .select(col(idCol),
        col("_sp.start").cast("long").as("span_start"),
        col("_sp.len").cast("long").as("span_len"),
        col("_sp.text").as("span_text"))
  }
}
