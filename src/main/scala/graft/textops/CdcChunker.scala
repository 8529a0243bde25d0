package graft.textops

import org.apache.spark.sql.{Column, DataFrame, GraftInterop}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (Rabin-style CDC; Muthitacharoen et al.
  * 2001 LBFS; the rsync/restic/storage-dedup primitive): split each
  * document at positions where a w-code-point rolling polynomial hash
  * satisfies `h % divisor == remainder`, so chunk boundaries follow
  * CONTENT, not offsets — an insertion early in a document shifts
  * every fixed-size block but leaves all later CDC chunks (and their
  * hashes) identical, which is what makes chunk-level dedup and
  * delta-sync work.
  *
  * This is the STATELESS variant: every window position is tested (no
  * min/max chunk-size reset — those make boundary selection
  * sequential in a way SQL cannot replay; production adds them as a
  * post-pass). Hash: h_i = Σ_{j<w} c_{i+j}·B^{w−1−j} mod M over
  * Unicode code points — both engines compute character positions as
  * code points, so the DuckDB oracle replays every window hash from
  * `unicode(substr(…))` with embedded B-power constants, the cut set,
  * and each chunk's md5.
  *
  * 100 TB shape: one narrow codegen'd pass computes each doc's chunk
  * spans in O(n); chunk rows explode from the span array; nothing
  * shuffles until a downstream groupBy on chunk hash (the dedup
  * step), which reduces map-side.
  */
object CdcChunker {

  val B: Long = 31L
  val M: Long = 1L << 30

  /** Raw content-defined cut positions (exclusive end offsets, code
    * points) — every window position whose rolling hash fires; the
    * document end is NOT appended here.
    */
  private def rawCuts(
      cps: Array[Int], w: Int, d: Long, r: Long)
      : scala.collection.mutable.ArrayBuffer[Int] = {
    val n = cps.length
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n >= w) {
      var bw = 1L
      var k = 1
      while (k < w) { bw = bw * B % M; k += 1 }
      var h = 0L
      var i = 0
      while (i < n) {
        h =
          if (i < w) (h * B + cps(i)) % M
          else ((h - cps(i - w) * bw % M + M) % M * B + cps(i)) % M
        if (i >= w - 1 && h % d == r) cuts += (i + 1)
        i += 1
      }
    }
    cuts
  }

  private def spansFromCuts(
      cuts: scala.collection.IndexedSeq[Int]): ArrayData = {
    val out = new Array[Any](cuts.length)
    var prev = 0
    var ci = 0
    while (ci < cuts.length) {
      out(ci) = new GenericInternalRow(
        Array[Any](prev, cuts(ci) - prev))
      prev = cuts(ci)
      ci += 1
    }
    new GenericArrayData(out)
  }

  /** Chunk spans of one document: array of (start, len) in code
    * points; an empty/zero-length text yields no spans.
    */
  def chunkSpans(text: UTF8String, w: Int, d: Long, r: Long): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val cuts = rawCuts(cps, w, d, r)
    if (cuts.isEmpty || cuts.last != n) cuts += n
    spansFromCuts(cuts)
  }

  /** Min/max-bounded chunk spans (round-10 verdict item 6 — the
    * restic/borg chunk-size stabilization): the STATELESS cut set is
    * post-processed by the sequential skip-then-cut rule —
    *
    *   prev = 0; repeat until prev = n:
    *     cut = the SMALLEST content cut c with minLen ≤ c − prev ≤
    *           maxLen, else min(prev + maxLen, n)
    *
    * — so a pathological byte pattern can no longer emit degenerate
    * chunks (a cut every position, or none for megabytes): every
    * chunk except possibly the document's final remainder has length
    * in [minLen, maxLen]. Because the underlying hash stream is
    * position-stateless, shift-resilience survives: after an edit,
    * the walk re-synchronizes at the first in-bounds content cut past
    * the edit (CdcChunkerSpec pins it), unlike true reset-at-cut
    * variants whose hash state itself diverges. The oracle replays
    * the walk with a WITH RECURSIVE next-cut lookup.
    */
  def boundedChunkSpans(
      text: UTF8String, w: Int, d: Long, r: Long,
      minLen: Int, maxLen: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val cuts = rawCuts(cps, w, d, r)
    val bounded = scala.collection.mutable.ArrayBuffer.empty[Int]
    var prev = 0
    var lo = 0 // first raw-cut index with cuts(lo) > prev (cuts ascend)
    while (prev < n) {
      while (lo < cuts.length && cuts(lo) - prev < minLen) lo += 1
      val cut =
        if (lo < cuts.length && cuts(lo) - prev <= maxLen) cuts(lo)
        else math.min(prev + maxLen, n)
      bounded += cut
      prev = cut
    }
    spansFromCuts(bounded)
  }

  case class CdcSpansExpr(child: Expression, w: Int, d: Long, r: Long)
      extends UnaryExpression {
    require(w >= 2, s"cdc_spans: w must be >= 2 (got $w)")
    require(d >= 2 && r >= 0 && r < d,
      s"cdc_spans: need divisor >= 2 and remainder in [0, divisor) (got $d/$r)")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "cdc_spans"
    override def nullSafeEval(input: Any): Any =
      chunkSpans(input.asInstanceOf[UTF8String], w, d, r)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.textops.CdcChunker.chunkSpans($input, $w, ${d}L, ${r}L);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def cdc_spans(text: Column, w: Int, d: Long, r: Long): Column =
    GraftInterop.column(CdcSpansExpr(GraftInterop.expression(text), w, d, r))

  case class CdcBoundedSpansExpr(
      child: Expression, w: Int, d: Long, r: Long, minLen: Int, maxLen: Int)
      extends UnaryExpression {
    require(w >= 2, s"cdc_bounded_spans: w must be >= 2 (got $w)")
    require(d >= 2 && r >= 0 && r < d,
      s"cdc_bounded_spans: need divisor >= 2 and remainder in [0, divisor) (got $d/$r)")
    require(minLen >= 1 && maxLen >= minLen,
      s"cdc_bounded_spans: need 1 <= minLen <= maxLen (got $minLen/$maxLen)")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "cdc_bounded_spans"
    override def nullSafeEval(input: Any): Any =
      boundedChunkSpans(input.asInstanceOf[UTF8String], w, d, r, minLen, maxLen)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, input =>
        s"${ev.value} = graft.textops.CdcChunker.boundedChunkSpans(" +
          s"$input, $w, ${d}L, ${r}L, $minLen, $maxLen);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def cdc_bounded_spans(
      text: Column, w: Int, d: Long, r: Long,
      minLen: Int, maxLen: Int): Column =
    GraftInterop.column(CdcBoundedSpansExpr(
      GraftInterop.expression(text), w, d, r, minLen, maxLen))

  /** The chunk table: (idCol, chunk_idx, start, len, chunk_md5). */
  def chunks(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, divisor: Long = 64, remainder: Long = 5): DataFrame =
    df.select(col(idCol).as("_cc_id"),
        coalesce(col(textCol), lit("")).as("_cc_t"))
      .select(col("_cc_id"), col("_cc_t"),
        posexplode(cdc_spans(col("_cc_t"), w, divisor, remainder))
          .as(Seq("chunk_idx", "_cc_s")))
      .select(col("_cc_id").as(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("_cc_s.start").cast("long").as("start"),
        col("_cc_s.len").cast("long").as("len"),
        md5(expr("substr(_cc_t, _cc_s.start + 1, _cc_s.len)"))
          .as("chunk_md5"))

  /** The bounded chunk table — [[chunks]] with the skip-then-cut
    * size rule: (idCol, chunk_idx, start, len, chunk_md5); every
    * chunk's len is in [minLen, maxLen] except possibly a document's
    * final remainder (which can be shorter than minLen).
    */
  def chunksBounded(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, divisor: Long = 64, remainder: Long = 5,
      minLen: Int = 16, maxLen: Int = 128): DataFrame =
    df.select(col(idCol).as("_cc_id"),
        coalesce(col(textCol), lit("")).as("_cc_t"))
      .select(col("_cc_id"), col("_cc_t"),
        posexplode(cdc_bounded_spans(col("_cc_t"), w, divisor, remainder,
          minLen, maxLen))
          .as(Seq("chunk_idx", "_cc_s")))
      .select(col("_cc_id").as(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("_cc_s.start").cast("long").as("start"),
        col("_cc_s.len").cast("long").as("len"),
        md5(expr("substr(_cc_t, _cc_s.start + 1, _cc_s.len)"))
          .as("chunk_md5"))

  /** B-power constants `B^{w−1−j} mod M` for j = 0..w−1 — embedded
    * into the DuckDB oracle so it evaluates the same polynomial.
    */
  def powerConstants(w: Int): Seq[Long] = {
    val pw = new Array[Long](w)
    pw(w - 1) = 1L
    var j = w - 2
    while (j >= 0) { pw(j) = pw(j + 1) * B % M; j -= 1 }
    pw.toSeq
  }

  // ----- persisted chunk-hash index (the storage-dedup loop) -----
  //
  // dir/ids.parquet    — doc ingestion ledger (replay safety, LEDGER
  //                      FIRST — the SpanDedup write-order argument)
  // dir/chunks.parquet — distinct chunk md5s seen so far
  //
  // The serving loop: a new batch chunks, measures how many of its
  // bytes are already stored (dedup ratio — the number restic/borg
  // print per backup), then appends its novel hashes. Within-batch
  // repeats of a novel hash count as new (first-batch cost); history
  // dedups across batches.

  private def writeChunkBatch(df: DataFrame, idCol: String, textCol: String,
      dir: String, w: Int, d: Long, r: Long, mode: String): Unit = {
    df.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode(mode).parquet(s"$dir/ids.parquet")
    chunks(df, idCol, textCol, w, d, r)
      .select(col("chunk_md5")).distinct()
      .write.mode(mode).parquet(s"$dir/chunks.parquet")
  }

  /** Create a chunk-hash index from an initial corpus (overwrite). */
  def buildChunkIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, w: Int = 8, divisor: Long = 64, remainder: Long = 5): Unit =
    writeChunkBatch(df, idCol, textCol, dir, w, divisor, remainder, "overwrite")

  /** Ingest a batch: already-ledgered docs drop whole (at-least-once
    * replay contract); ledger ids FIRST, then the batch's distinct
    * chunk hashes.
    */
  def appendToChunkIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, w: Int = 8, divisor: Long = 64, remainder: Long = 5): Unit =
    graft.operators.IndexOps.withMutationLock(
      df.sparkSession, dir, "append-cdc") {
      val fresh = graft.operators.IndexOps.unledgered(
        df, idCol, s"$dir/ids.parquet", castLong = true).getOrElse(df)
      graft.operators.Widen.pinned(fresh)(
        writeChunkBatch(_, idCol, textCol, dir, w, divisor, remainder, "append"))
    }

  /** Known chunk hashes (empty frame when the index does not exist —
    * first streaming batch).
    */
  def chunkIndexHashes(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/chunks.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.range(0).select(col("id").cast("string").as("chunk_md5"))
    else spark.read.parquet(s"$dir/chunks.parquet").select(col("chunk_md5"))
  }

  /** Per-doc dedup accounting against the PERSISTED hash set:
    * (idCol, n_chunks, n_dup_chunks, n_cps, dup_cps) — `*_cps` in
    * code points (the chunker's unit). One chunking pass + one
    * equi-join on the hash; distinct-hash history keeps the index
    * frame reduced, AQE broadcasts it when small.
    */
  def dedupStatsAgainstIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, w: Int = 8, divisor: Long = 64, remainder: Long = 5): DataFrame = {
    val known = chunkIndexHashes(df.sparkSession, dir)
      .withColumn("_cdc_known", lit(true))
    chunks(df, idCol, textCol, w, divisor, remainder)
      .join(known, Seq("chunk_md5"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_cdc_known"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("len")).as("n_cps"),
        sum(when(col("_cdc_known"), col("len")).otherwise(0L)).as("dup_cps"))
  }
}
