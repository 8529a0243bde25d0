package graft.textops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftInterop}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Line-level boilerplate removal — the C4/CCNet line-frequency filter
  * (Raffel et al. 2020 §2.2 dedup "three-sentence spans"; Wenzek et
  * al., CCNet 2020 per-line dedup): drop every line whose corpus-wide
  * DOCUMENT frequency reaches `minDf`, from EVERY document including
  * the first. This is the family member [[SpanDedup]] cannot express:
  * span dedup is history-wins (the first occurrence survives), while
  * navigation bars, cookie banners and copyright footers must vanish
  * from ALL documents once they prove to be template text.
  *
  * Semantics (both the engine and the DuckDB oracle implement exactly
  * this):
  *   - a line is a `\n`-separated segment of `textCol`; matching is on
  *     the SPACE-trimmed form (ASCII 0x20 only — the `trim()` the
  *     engine's counting pass, the removal pass, and DuckDB all
  *     share); the emitted text keeps the original untrimmed line;
  *   - lines whose trimmed form is empty are never counted and never
  *     removed (blank separators are structure, not boilerplate);
  *   - document frequency counts each doc at most once per distinct
  *     trimmed line;
  *   - output: (idCol, n_lines, n_dropped, text_clean) with `n_lines`
  *     the total input line count (split keeps trailing empties),
  *     `n_dropped` the removed-line count, `text_clean` the survivors
  *     re-joined with `\n`.
  *
  * 100 TB shape: counting is one `(doc, line)`-distinct shuffle plus
  * one already-reduced count-per-line shuffle, both with map-side
  * partial aggregation; the qualifying boilerplate set is SMALL by
  * construction (lines appearing in >= minDf documents — template
  * text, not content), so its 64-bit line hashes are collected once
  * (bounded by `maxBoilerplateLines` BEFORE collect, the
  * [[SpanDedup.decontaminate]] guard discipline), sorted, broadcast,
  * and the removal is ONE narrow codegen'd pass over the corpus —
  * zero shuffles, no join, nothing to skew. Matching in the removal
  * pass is 64-bit xxhash64 equality (seed 42, the built-in) against
  * the broadcast sorted array — the [[SpanDedup]] vanishing-collision
  * argument; the counting pass groups by the line STRING itself, so
  * a collision can only over-remove, never under-count.
  *
  * Each call collects and broadcasts the boilerplate hash set anew
  * (the per-invocation broadcast contract of [[NgramLm.lm_score]] and
  * [[SpanDedup.decontaminate]]); the broadcast lives until the
  * SparkContext stops.
  */
object LineDedup {

  /** Trim ASCII spaces (0x20) only — Spark `trim()` / DuckDB `trim()`
    * semantics, NOT Java's `String.trim` (which also strips control
    * chars and would diverge from both engines on `\t`).
    */
  private[textops] def trimSpaces(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    s.substring(from, to)
  }

  /** xxhash64 (seed 42) of a string — exactly the built-in
    * `functions.xxhash64(col)` on a non-null string column, so hashes
    * computed here agree with hashes computed in the counting pass.
    */
  private[textops] def lineHash(trimmed: String): Long =
    XxHash64Function.hash(UTF8String.fromString(trimmed), StringType, 42L)

  /** Row-local removal: split on `\n`, drop non-blank lines whose
    * trimmed hash is in the sorted `hot` array, re-join survivors.
    * Called from both the interpreted and the codegen path.
    */
  def dropLines(text: UTF8String, hot: Array[Long]): InternalRow = {
    val parts = text.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder
    var dropped = 0L
    var first = true
    var i = 0
    while (i < parts.length) {
      val t = trimSpaces(parts(i))
      val drop = t.nonEmpty &&
        java.util.Arrays.binarySearch(hot, lineHash(t)) >= 0
      if (drop) dropped += 1L
      else {
        if (!first) sb.append('\n')
        sb.append(parts(i))
        first = false
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      parts.length.toLong, dropped, UTF8String.fromString(sb.toString)))
  }

  case class DropLinesExpr(child: Expression, bcast: Broadcast[Array[Long]])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_lines", LongType, nullable = false),
      StructField("n_dropped", LongType, nullable = false),
      StructField("text_clean", StringType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "drop_boilerplate_lines"
    override def nullSafeEval(input: Any): Any =
      dropLines(input.asInstanceOf[UTF8String], bcast.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hotLineHashes", bcast,
        classOf[Broadcast[Array[Long]]].getName)
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.textops.LineDedup.dropLines(" +
          s"$input, (long[]) $ref.value());")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def drop_boilerplate_lines(text: Column, bcast: Broadcast[Array[Long]]): Column =
    GraftInterop.column(DropLinesExpr(GraftInterop.expression(text), bcast))

  /** Remove corpus-frequent lines from every document. See the object
    * scaladoc for exact semantics and the 100 TB shape. Null text
    * folds to `''` (1 line — the empty segment — 0 dropped, empty
    * clean text): the [[SpanDedup.decontaminate]] null-fold rule, so
    * downstream filters never silently drop null-text rows.
    */
  def removeBoilerplate(
      df: DataFrame, idCol: String, textCol: String, minDf: Long,
      maxBoilerplateLines: Int = 5000000): DataFrame = {
    require(minDf >= 2,
      s"removeBoilerplate: minDf must be >= 2 (got $minDf) — at 1 every " +
        "non-blank line is boilerplate and the output is structurally empty")
    require(maxBoilerplateLines > 0,
      s"removeBoilerplate: maxBoilerplateLines must be positive (got $maxBoilerplateLines)")
    val spark = df.sparkSession

    // document frequency per distinct trimmed non-blank line: the
    // (doc, line) distinct bounds any doc's contribution at 1, then the
    // per-line count runs over already-reduced rows. Grouping is by the
    // line STRING (not its hash) so the count itself is collision-free.
    val hotDf = df
      .select(col(idCol).as("_ld_id"),
        explode(split(coalesce(col(textCol), lit("")), "\n", -1)).as("_ld_raw"))
      .select(col("_ld_id"), trim(col("_ld_raw")).as("_ld_t"))
      .filter(col("_ld_t") =!= "")
      .distinct()
      .groupBy(col("_ld_t"))
      .agg(count(lit(1)).as("_ld_df"))
      .filter(col("_ld_df") >= minDf)
      .select(xxhash64(col("_ld_t")).as("_ld_h"))

    // bounded collect BEFORE broadcast — an unexpectedly huge
    // boilerplate set fails loudly instead of OOMing the driver
    // (overflow-safe +1, the decontaminate guard)
    val limitN = math.min(maxBoilerplateLines.toLong + 1L, Int.MaxValue.toLong).toInt
    val hotRows = hotDf.limit(limitN).collect()
    require(hotRows.length <= maxBoilerplateLines,
      s"removeBoilerplate: more than $maxBoilerplateLines distinct lines have " +
        s"document frequency >= $minDf — raise minDf or maxBoilerplateLines deliberately")
    val hashes = hotRows.map(_.getLong(0))
    java.util.Arrays.sort(hashes)
    val bcast = spark.sparkContext.broadcast(hashes)

    df.select(col(idCol).as("_ld_id"),
      coalesce(col(textCol), lit("")).as("_ld_txt"))
      .withColumn("_ld_st", drop_boilerplate_lines(col("_ld_txt"), bcast))
      .select(col("_ld_id").as(idCol),
        col("_ld_st.n_lines").as("n_lines"),
        col("_ld_st.n_dropped").as("n_dropped"),
        col("_ld_st.text_clean").as("text_clean"))
  }

  /** The join-based twin of [[removeBoilerplate]] — same output, no
    * driver collect and no broadcast bound: the escape hatch for a
    * pathological corpus whose boilerplate set itself is too large to
    * broadcast (the [[SpanDedup.decontaminateAgainstIndex]] role in
    * this family; LineDedupSpec pins equality with the broadcast
    * form).
    *
    * Shape: lines explode once with their position; the qualifying
    * set stays a DataFrame and flags lines via a LEFT join on the
    * trimmed line string (AQE broadcasts it when it measures small —
    * the common case — and falls back to a shuffle join when not);
    * documents reassemble with one groupBy over (id), survivors
    * sorted by position. ~4 exchanges vs the broadcast form's 2 + 0 —
    * the price of unboundedness.
    */
  def removeBoilerplateJoin(
      df: DataFrame, idCol: String, textCol: String, minDf: Long): DataFrame = {
    require(minDf >= 2,
      s"removeBoilerplateJoin: minDf must be >= 2 (got $minDf)")
    val lines = df
      .select(col(idCol).as("_ld_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("_ld_i", "_ld_raw")))
      .withColumn("_ld_t", trim(col("_ld_raw")))
    val hot = lines
      .filter(col("_ld_t") =!= "")
      .select(col("_ld_id"), col("_ld_t")).distinct()
      .groupBy(col("_ld_t")).agg(count(lit(1)).as("_ld_df"))
      .filter(col("_ld_df") >= minDf)
      .select(col("_ld_t").as("_ld_hot"), lit(true).as("_ld_flag"))
    lines
      .join(hot, col("_ld_t") === col("_ld_hot") &&
        col("_ld_t") =!= "", "left")
      .groupBy(col("_ld_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_ld_flag"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n",
          transform(
            filter(
              array_sort(collect_list(struct(
                col("_ld_i"), coalesce(col("_ld_flag"), lit(false)).as("_ld_f"),
                col("_ld_raw")))),
              x => !x.getField("_ld_f")),
            x => x.getField("_ld_raw"))).as("text_clean"))
      .select(col("_ld_id").as(idCol),
        col("n_lines"), col("n_dropped"), col("text_clean"))
  }

  // ----- persisted line-frequency index (incremental ingestion) -----
  //
  // dir/ids.parquet     — doc ingestion ledger (id), LEDGER FIRST
  // dir/removed.parquet — doc removal ledger (id), LEDGER FIRST
  // dir/counts.parquet  — append-only DELTA rows (lh, df), partitioned
  //                       by pb = lh mod 256; current document
  //                       frequency per line = sum of its deltas.
  //
  // The delta formulation is what makes append/remove O(batch): an
  // ingested batch appends (+1 per distinct (doc, line)), a removed
  // doc appends (-1) — no read-modify-write of history, the sums
  // reconcile at read. Replay safety rides the ledgers (the span-index
  // discipline): ids already ledgered contribute nothing again. A
  // crash between a ledger write and its delta write loses that
  // batch's deltas while still blocking replay — ingest crash =
  // undercounted lines (under-removal), removal crash = overcounted
  // (over-removal); both heal at the next compact-from-source never,
  // so the contract is documented instead: ledgers first, deltas
  // second, and the window between them is the at-least-once cost.

  /** Buckets for the counts dataset — probe-side pruning unit. */
  val LineIndexBuckets: Int = 256

  private def lineHashCol(t: Column): Column = xxhash64(t)

  /** Distinct per-(doc, trimmed-non-blank-line) +`sign` deltas. */
  private def lineDeltas(df: DataFrame, idCol: String, textCol: String,
      sign: Long): DataFrame =
    df.select(col(idCol).as("_ld_id"),
      explode(split(coalesce(col(textCol), lit("")), "\n", -1)).as("_ld_raw"))
      .select(col("_ld_id"), trim(col("_ld_raw")).as("_ld_t"))
      .filter(col("_ld_t") =!= "")
      .distinct()
      .select(lineHashCol(col("_ld_t")).as("lh"), lit(sign).as("df"))

  private def writeLineBatch(df: DataFrame, idCol: String, textCol: String,
      dir: String, ledger: String, sign: Long, mode: String): Unit = {
    df.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode(mode).parquet(s"$dir/$ledger")
    lineDeltas(df, idCol, textCol, sign)
      .withColumn("pb", pmod(col("lh"), lit(LineIndexBuckets.toLong)).cast("int"))
      .write.mode(mode).partitionBy("pb").parquet(s"$dir/counts.parquet")
  }

  /** `df` minus the docs already in `ledger`, pinned: the anti-join
    * reads the ledger lazily, so an unpinned frame re-evaluated for the
    * delta write would see its own just-appended ids and write zero
    * deltas.
    */
  private def writeUnledgered(df: DataFrame, idCol: String, textCol: String,
      dir: String, ledger: String, sign: Long): Unit =
    graft.operators.Widen.pinned(graft.operators.IndexOps.unledgered(
      df, idCol, s"$dir/$ledger", castLong = true).getOrElse(df))(
      writeLineBatch(_, idCol, textCol, dir, ledger, sign, "append"))

  /** Create a line-frequency index from an initial corpus (clearing
    * any stale removal ledger a previous index at `dir` left behind).
    */
  def buildLineIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/removed.parquet")
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .delete(p, true)
    writeLineBatch(df, idCol, textCol, dir, "ids.parquet", 1L, "overwrite")
  }

  /** Ingest a batch: docs already in the ingestion ledger are dropped
    * whole (at-least-once replay contract), the rest append their
    * ledger ids FIRST, then their +1 line deltas.
    */
  def appendToLineIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "append-lines") {
      writeUnledgered(df, idCol, textCol, dir, "ids.parquet", 1L)
    }

  /** Remove docs (takedowns/re-crawls): appends -1 deltas for each
    * removed doc's distinct lines, so their document frequencies
    * decrement without rewriting history. The CALLER supplies the
    * doc content (the index stores only hashed counts); only docs
    * that are ledgered-in and not already removed count. Removal
    * ledger first — a replayed removal batch decrements nothing.
    */
  def removeFromLineIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "remove-lines") {
      val inIndex = df.join(
        df.sparkSession.read.parquet(s"$dir/ids.parquet")
          .select(col("id").cast("long").as(idCol)), Seq(idCol), "left_semi")
      writeUnledgered(inIndex, idCol, textCol, dir, "removed.parquet", -1L)
    }

  /** Current (line-hash, document-frequency) view: delta sums, zero
    * and negative net counts dropped. An index not yet built (first
    * streaming batch) reads as empty — no line is boilerplate until
    * history proves it.
    */
  def lineIndexDf(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/counts.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.range(0).select(col("id").as("lh"), col("id").as("df"))
    else
      spark.read.parquet(s"$dir/counts.parquet")
        .groupBy(col("lh")).agg(sum(col("df")).as("df"))
        .filter(col("df") > 0)
  }

  /** Clean a batch against the PERSISTED hot-line set (df >= minDf in
    * the index — i.e. in everything ingested so far): same output
    * schema and removal semantics as [[removeBoilerplate]], with the
    * hot set coming from the index instead of the batch itself.
    * LineIndexSpec pins: after appending batches B1..Bn, the index
    * hot set equals the batch-union hot set, so cleaning any frame
    * against the index equals the broadcast form run on the union.
    */
  def cleanAgainstLineIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, minDf: Long, maxBoilerplateLines: Int = 5000000): DataFrame = {
    require(minDf >= 2, s"cleanAgainstLineIndex: minDf must be >= 2 (got $minDf)")
    val spark = df.sparkSession
    val limitN = math.min(maxBoilerplateLines.toLong + 1L, Int.MaxValue.toLong).toInt
    val hotRows = lineIndexDf(spark, dir)
      .filter(col("df") >= minDf).select(col("lh"))
      .limit(limitN).collect()
    require(hotRows.length <= maxBoilerplateLines,
      s"cleanAgainstLineIndex: more than $maxBoilerplateLines hot lines — " +
        "raise minDf or maxBoilerplateLines deliberately")
    val hashes = hotRows.map(_.getLong(0))
    java.util.Arrays.sort(hashes)
    val bcast = spark.sparkContext.broadcast(hashes)
    df.select(col(idCol).as("_ld_id"),
      coalesce(col(textCol), lit("")).as("_ld_txt"))
      .withColumn("_ld_st", drop_boilerplate_lines(col("_ld_txt"), bcast))
      .select(col("_ld_id").as(idCol),
        col("_ld_st.n_lines").as("n_lines"),
        col("_ld_st.n_dropped").as("n_dropped"),
        col("_ld_st.text_clean").as("text_clean"))
  }

  /** Merge the delta history into one net row per line hash and a
    * bounded file count (a year of hourly batches otherwise
    * accumulates ~10k tiny part-files). Rides the
    * [[graft.operators.IndexOps]] `.bak`-swap compaction (crash at any
    * step heals by re-running); ledgers are left untouched — they are
    * already one row per doc.
    */
  def compactLineIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 4): Unit =
    graft.operators.IndexOps.withMutationLock(spark, dir, "compact-lines") {
      graft.operators.IndexOps.swapDataset(spark, dir, "counts.parquet") {
        (live, fresh) =>
          spark.read.parquet(live)
            .groupBy(col("pb"), col("lh")).agg(sum(col("df")).as("df"))
            .filter(col("df") > 0)
            .select(col("lh"), col("df"), col("pb"))
            // hash on pb: each bucket lands whole in one task -> one
            // file per bucket, targetFiles-way parallel rewrite (a
            // plain repartition(n) would scatter every bucket across
            // n tasks and multiply the file count)
            .repartition(targetFiles, col("pb"))
            .write.mode("overwrite").partitionBy("pb").parquet(fresh)
      }
    }
}
