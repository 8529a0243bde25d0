package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection family for training-data pipelines:
  * word-shingle Jaccard, MinHash + LSH banding, SimHash, and
  * embedding-cosine pairs. Designed for the 100 TB shape: candidate
  * generation is always a hash-bucket equi-join (shuffle on small keys),
  * never an O(n²) cross join; exact verification runs only inside
  * buckets.
  */
object NearDup {

  /** Word n-gram shingles of the lowered text. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    when(size(toks) < n, typedLit(Seq.empty[String]))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
  }

  private val P = 2147483647L // 2^31 - 1

  /** Sorted distinct 64-bit shingle hashes in ONE scan of the text
    * bytes ([[TokenShingles]]) — no per-shingle string allocation. The
    * only semantic difference vs `shingles` + hash: a text starting
    * with a non-space whitespace char (tab, newline) yields no leading
    * empty token, where `split(trim(text), "\\s+")` artifacts one
    * (Column `trim` strips spaces only).
    */
  def hashedShingles(text: Column, n: Int): Column =
    TokenShingles.hashed_shingles(lower(text), n)

  /** Exact Jaccard from sorted distinct hashed shingle sets:
    * |A∩B| by merge scan, |A∪B| = |A| + |B| - |A∩B|.
    */
  private def hashedJaccard(shA: Column, shB: Column): Column = {
    val inter = TokenShingles.sorted_intersect_size(shA, shB).cast("double")
    val union = size(shA) + size(shB) - inter
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** MinHash signature: k permutation-minima over the shingle set —
    * permutation i is ((2i+1)·h + 17i + 7) mod P over a 31-bit hash
    * fold. One single-pass custom expression ([[MinHashSig]]); see its
    * scaladoc for why the nested-transform Column formulation was ~50x
    * slower.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    MinHashSig.minhash_sig(shingleCol, k)

  /** LSH band keys: hash of each r-row slice of the signature. A pair
    * colliding in ANY band becomes a candidate.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => hash(array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",")))

  /** Exact Jaccard over two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(array_distinct(a), array_distinct(b)))
    val union = size(array_union(a, b))
    when(union === 0, 0.0).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** MinHash+LSH near-dup pairs: shingle -> sign -> band -> bucket join
    * -> exact-Jaccard verify. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, deduplicated across bands.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucketSize: Long = 100): DataFrame =
    minhashPairsFromShingles(
      // widen: the shingle+minhash hashing is the CPU of this pass and
      // runs on the input's partitioning (1 task over a checkpointed
      // pipeline stage at bench scale)
      graft.operators.Widen.widen(df).select(col(idCol).as("id"),
        hashedShingles(col(textCol), shingleSize).as("sh")),
      k, bands, threshold, maxBucketSize)

  /** Core over a precomputed (id, sh) frame — lets the ingestion loop
    * shingle each batch ONCE (materialized) instead of re-evaluating
    * the text scan at every consuming exchange of the lazy plan.
    */
  private[graft] def minhashPairsFromShingles(
      shFrame: DataFrame,
      k: Int,
      bands: Int,
      threshold: Double,
      maxBucketSize: Long): DataFrame = {
    val base = shFrame.filter(size(col("sh")) > 0)
    // Band join carries ONLY (band, id): a pair colliding in many bands
    // (exact dups collide in all of them) would otherwise drag its
    // shingle arrays through the shuffle once per band. Dedupe the id
    // pairs first, then join the arrays back exactly once per side.
    val exploded = base
      .withColumn("sig", TokenShingles.minhash_sig_long(col("sh"), k))
      .select(col("id"),
        posexplode(TokenShingles.lsh_band_keys(col("sig"), bands, k / bands))
          .as(Seq("band_idx", "band_hash")))
    // Giant-bucket guard: corpora with concentrated shingle minima (tiny
    // vocabularies, boilerplate) produce band buckets holding thousands
    // of ids, and the within-bucket pair join goes quadratic. Buckets
    // over maxBucketSize carry almost no signal (their members collide
    // with everything) and are dropped — the standard LSH bucket cap.
    // Without this cap the sf0.1 bench went 24s -> 231s.
    // maxBucketSize <= 0 = uncapped (same contract as simhashPairs):
    // skips the count window entirely rather than shuffling through a
    // filter that can drop nothing.
    val capped =
      if (maxBucketSize <= 0) exploded
      else exploded
        .withColumn("_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("band_idx"), col("band_hash"))))
        .filter(col("_n") <= maxBucketSize)
        .drop("_n")
    val candidates = capped.toDF("id_a", "band_idx", "band_hash")
      .join(capped.toDF("id_b", "band_idx", "band_hash"), Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(base.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(base.toDF("id_b", "sh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(hashedJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Persist a minhash near-dup INDEX for incremental dedup: per-doc
    * band keys (`dir/bands.parquet`: id, band_idx, band_hash) and
    * sorted shingle-hash sets (`dir/shingles.parquet`: id, sh). An
    * ongoing ingestion pipeline builds this once per corpus snapshot;
    * each new crawl batch then dedups against it via
    * [[minhashPairsAgainstIndex]] WITHOUT re-shingling or re-hashing
    * the 100 TB corpus — the shuffle is sized by the new batch.
    */
  def buildMinhashIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8): Unit =
    writeMinhashIndex(df, idCol, textCol, dir, shingleSize, k, bands, "overwrite")

  /** Append a new (already-deduped) batch's band keys and shingle sets
    * to a persisted index — the ingestion tail of the incremental loop:
    * dedup the batch against the index ([[minhashPairsAgainstIndex]]),
    * drop its near-dups, then append the survivors so the NEXT batch
    * sees them. Same shingleSize/k/bands as the build or the band keys
    * won't align. NearDupIndexSpec pins index-after-append equal to an
    * index rebuilt from the union. Caller contract: batch ids are new.
    */
  def appendToMinhashIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "append-minhash") {
      writeMinhashIndex(df, idCol, textCol, dir, shingleSize, k, bands, "append")
    }

  private def writeMinhashIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shingleSize: Int, k: Int, bands: Int, mode: String): Unit =
    writeMinhashIndexFromShingles(
      df.select(col(idCol).as("id"),
        hashedShingles(col(textCol), shingleSize).as("sh")),
      dir, k, bands, mode)

  /** Write path over a precomputed (id, sh) frame.
    *
    * shingles.parquet keeps EVERY id — including docs too short to
    * shingle — because it doubles as the ingestion ledger
    * (dedupNewBatch's replay anti-join): a short doc absent from the
    * ledger would be re-delivered on every replay. Short docs simply
    * have no band rows (no candidates), which is the same behavior as
    * minhashPairs over the union.
    *
    * Ledger FIRST: a crash between the two writes then leaves ids
    * whose band rows are missing — those docs lose near-dup
    * findability for that one batch, but a replay is still dropped by
    * the ledger, so the index never accumulates duplicate band rows
    * (the worse corruption the reverse order allowed).
    */
  private[graft] def writeMinhashIndexFromShingles(
      shFrame: DataFrame, dir: String, k: Int, bands: Int, mode: String): Unit = {
    shFrame.write.mode(mode).parquet(s"$dir/shingles.parquet")
    shFrame.filter(size(col("sh")) > 0)
      .withColumn("sig", TokenShingles.minhash_sig_long(col("sh"), k))
      .select(col("id"),
        posexplode(TokenShingles.lsh_band_keys(col("sig"), bands, k / bands))
          .as(Seq("band_idx", "band_hash")))
      .write.mode(mode).parquet(s"$dir/bands.parquet")
  }

  /** Tombstone `ids` in a persisted minhash index: O(batch) append,
    * probes stop matching them immediately ([[graft.operators.IndexOps]]
    * semantics). The ingestion LEDGER keeps knowing the ids (replays
    * must not re-append them) — re-adding a removed id requires a
    * [[compactMinhashIndex]] first. IndexDeleteSpec pins
    * probe-after-delete ≡ probe of an index rebuilt without the ids.
    */
  def removeFromMinhashIndex(ids: DataFrame, idCol: String, dir: String): Unit =
    graft.operators.IndexOps.removeFromIndex(ids, idCol, dir)

  /** Physically apply tombstones and bound the index's parquet file
    * count (each append adds files without bound — see
    * [[graft.operators.IndexOps.compactIndex]] for the crash contract).
    */
  def compactMinhashIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 4): Unit =
    graft.operators.IndexOps.compactIndex(spark, dir,
      Seq("shingles.parquet" -> "id", "bands.parquet" -> "id"), targetFiles)

  /** Tombstone `ids` in a persisted simhash index ([[removeFromMinhashIndex]]
    * semantics). */
  def removeFromSimhashIndex(ids: DataFrame, idCol: String, dir: String): Unit =
    graft.operators.IndexOps.removeFromIndex(ids, idCol, dir)

  /** Apply tombstones + bound file count for a simhash index. */
  def compactSimhashIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 4): Unit =
    graft.operators.IndexOps.compactIndex(spark, dir,
      Seq("fp.parquet" -> "id"), targetFiles)

  /** Tombstone `ids` in a persisted winnow index ([[removeFromMinhashIndex]]
    * semantics). */
  def removeFromWinnowIndex(ids: DataFrame, idCol: String, dir: String): Unit =
    graft.operators.IndexOps.removeFromIndex(ids, idCol, dir)

  /** Apply tombstones + bound file count for a winnow index. */
  def compactWinnowIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 4): Unit =
    graft.operators.IndexOps.compactIndex(spark, dir,
      Seq("fps.parquet" -> "id"), targetFiles)

  /** Near-dup pairs of a NEW batch against a persisted index
    * ([[buildMinhashIndex]] — same shingleSize/k/bands or the band
    * keys won't align): candidates via band-key equi-join against the
    * saved bands, exact Jaccard against the saved shingle sets.
    * Returns (id_new, id_corpus, jaccard) — NewVsIndexSpec pins
    * equality with the cross-pair slice of a fresh [[minhashPairs]]
    * over the union.
    *
    * @param maxBucketSize cap counted over the JOINED bucket (index +
    *   new-batch members, the same universe the uncapped run joins
    *   in); <= 0 = uncapped.
    */
  def minhashPairsAgainstIndex(
      newDf: DataFrame, idCol: String, textCol: String, dir: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Long = 100): DataFrame =
    minhashAgainstIndexFromShingles(
      newDf.select(col(idCol).as("id"),
        hashedShingles(col(textCol), shingleSize).as("sh")),
      dir, k, bands, threshold, maxBucketSize)

  /** Core of [[minhashPairsAgainstIndex]] over a precomputed (id, sh)
    * batch frame (same motivation as [[minhashPairsFromShingles]]).
    */
  private[graft] def minhashAgainstIndexFromShingles(
      shFrame: DataFrame, dir: String, k: Int, bands: Int,
      threshold: Double, maxBucketSize: Long): DataFrame = {
    val spark = shFrame.sparkSession
    // Ledger-first append order means a crash between the FIRST batch's
    // shingles.parquet write and its bands.parquet write can leave an
    // index with a ledger but no band file. The replay gates on the
    // ledger, so this probe must treat the missing band file as an
    // EMPTY index (no candidates), not PATH_NOT_FOUND — otherwise every
    // replay of that stream throws and the ingest wedges.
    val bandsPath = new org.apache.hadoop.fs.Path(s"$dir/bands.parquet")
    val bandsExist = bandsPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(bandsPath)
    if (!bandsExist)
      return shFrame.toDF("id_new", "sh_n")
        .select(col("id_new"), col("id_new").as("id_corpus"),
          lit(0.0).as("jaccard"))
        .limit(0)
    val idxBands = graft.operators.IndexOps.dropTombstoned(spark, dir,
      spark.read.parquet(s"$dir/bands.parquet")
        .toDF("id_corpus", "band_idx", "band_hash"), "id_corpus")
    val idxSh = spark.read.parquet(s"$dir/shingles.parquet").toDF("id_corpus", "sh_c")
    val base = shFrame.toDF("id_new", "sh_n").filter(size(col("sh_n")) > 0)
    val newBands = base
      .withColumn("sig", TokenShingles.minhash_sig_long(col("sh_n"), k))
      .select(col("id_new"),
        posexplode(TokenShingles.lsh_band_keys(col("sig"), bands, k / bands))
          .as(Seq("band_idx", "band_hash")))
    // cap over the union bucket: a boilerplate band key that exploded
    // in the CORPUS must stay dropped when the new batch probes it
    val capped =
      if (maxBucketSize <= 0) (newBands, idxBands)
      else {
        val counts = newBands.select(col("band_idx"), col("band_hash"))
          .unionByName(idxBands.select(col("band_idx"), col("band_hash")))
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize)
          .drop("_n")
        (newBands.join(counts, Seq("band_idx", "band_hash")),
          idxBands.join(counts, Seq("band_idx", "band_hash")))
      }
    val candidates = capped._1
      .join(capped._2, Seq("band_idx", "band_hash"))
      .filter(col("id_new") =!= col("id_corpus"))
      .select("id_new", "id_corpus").distinct()
    candidates
      .join(base.select(col("id_new"), col("sh_n")), Seq("id_new"))
      .join(idxSh, Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        round(hashedJaccard(col("sh_n"), col("sh_c")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Dedup a NEW batch end-to-end for the incremental ingestion loop:
    * (1) drop batch rows whose id is ALREADY in the index (makes a
    * replayed batch a no-op instead of double-appending); (2) drop
    * in-batch near-dups (connected components over [[minhashPairs]]
    * edges, keep smallest id); (3) drop survivors that are near-dups of
    * the persisted corpus ([[minhashPairsAgainstIndex]]). A missing
    * index dir means this is the first batch — steps 1 and 3 are
    * skipped. Returns the surviving rows of `df`, schema unchanged.
    * Parameters must match the index build. The caller appends the
    * survivors ([[appendToMinhashIndex]]) so the next batch sees them —
    * [[graft.streaming.StreamingOps.dedupIngest]] wires both into one
    * foreachBatch loop.
    */
  def dedupNewBatch(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Long = 100): DataFrame =
    dedupNewBatchPrepared(
      df.withColumn(ShCol, hashedShingles(col(textCol), shingleSize)),
      idCol, dir, k, bands, threshold, maxBucketSize).drop(ShCol)

  /** The throwaway shingle column the prepared ingestion path carries
    * ([[dedupNewBatchPrepared]]): computing it once on a MATERIALIZED
    * batch frame is what stops the lazy plan re-running the text scan
    * at every consuming exchange.
    */
  private[graft] val ShCol = "_nd_sh"

  /** Core of [[dedupNewBatch]] over a frame already carrying [[ShCol]]
    * — all three stages (in-batch pair gen, index probe, and the
    * caller's append) slice the same shingles instead of re-deriving
    * them from text.
    */
  private[graft] def dedupNewBatchPrepared(
      dfSh: DataFrame, idCol: String, dir: String,
      k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Long = 100): DataFrame = {
    require(dfSh.columns.contains(ShCol),
      s"dedupNewBatchPrepared: frame must carry the $ShCol shingle column")
    def shOf(d: DataFrame) = d.select(col(idCol).as("id"), col(ShCol).as("sh"))
    // probe the LEDGER (shingles.parquet): it is written first and
    // holds every ingested id, short docs included — the file the
    // replay anti-join reads must be the file whose existence gates it
    val unledgered =
      graft.operators.IndexOps.unledgered(dfSh, idCol, s"$dir/shingles.parquet")
    val fresh = unledgered.getOrElse(dfSh)
    val inEdges = minhashPairsFromShingles(
      shOf(fresh), k, bands, threshold, maxBucketSize).select("id_a", "id_b")
    val local = graft.operators.Dedup.dropNearDups(fresh, idCol, inEdges)
    if (unledgered.isEmpty) local
    else {
      val dupIds = minhashAgainstIndexFromShingles(
        shOf(local), dir, k, bands, threshold, maxBucketSize)
        .select(col("id_new").as(idCol)).distinct()
      local.join(dupIds, Seq(idCol), "left_anti")
    }
  }

  /** Exact n-gram-Jaccard pairs within explicit buckets (for bounded
    * bucket sizes; the honest quadratic-inside-bucket verifier).
    *
    * Shingles are folded to 64-bit hashes before the pairwise intersect:
    * set cardinalities (and so the Jaccard value) are unchanged unless
    * two distinct shingles collide in 64 bits (expected collisions over
    * a corpus of 10^6 pairwise-unioned shingle sets ≈ 10^-7 — far below
    * the 4-decimal output precision). The hashed sets are sorted, so
    * the per-pair verify is one merge scan (no hash-set builds) — this
    * took q24 from ~7.5 s to well under a second at sf0.1.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bucketCols: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.05): DataFrame = {
    val base = df.select(
      (bucketCols :+ col(idCol).as("id") :+
        hashedShingles(col(textCol), shingleSize).as("sh")): _*)
    val names = base.columns.dropRight(2)
    val a = base.toDF(names.map(n => s"${n}") :+ "id_a" :+ "sh_a": _*)
    val b = base.toDF(names.map(n => s"${n}") :+ "id_b" :+ "sh_b": _*)
    a.join(b, names.toSeq)
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", round(hashedJaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup: 64-bit fingerprints; pairs whose fingerprints
    * agree on >= 64 - maxHamming bits. Candidates via chunk buckets:
    * the 64 bits are split into maxHamming+1 chunks, so by pigeonhole a
    * pair within the hamming bound must agree exactly on at least one
    * chunk — recall is guaranteed for ANY maxHamming, not just <= 3.
    * More chunks means narrower chunks (larger buckets, more candidate
    * pairs), so maxHamming is capped where chunks would drop below 4
    * bits and bucketing stops pruning anything.
    */
  /** @param maxBucketSize 0 (default) = uncapped, which is what makes
    *   the pigeonhole recall guarantee unconditional. A positive cap
    *   drops chunk buckets larger than the cap before the pair join —
    *   the escape hatch for adversarial corpora (boilerplate text
    *   collapsing onto few fingerprints) where one bucket would go
    *   quadratic — and EXPLICITLY waives the guarantee for pairs whose
    *   only shared chunk sits in a dropped bucket. No silent capping:
    *   the default preserves the contract, opting into the cap is the
    *   caller's documented trade.
    */
  /** (chunkIdx, bitOffset, mask) for the pigeonhole chunking of a 64-bit
    * simhash into maxHamming+1 chunks. Shared by [[simhashPairs]] and the
    * generated DuckDB oracle ([[graft.OracleGen]]) so the two can't
    * drift. Bits are distributed as evenly as possible: the first
    * (64 % n) chunks get an extra bit; offsets are cumulative widths.
    */
  /** The pigeonhole chunk keys of a fingerprint column — the ONE
    * projection both [[simhashPairs]] and [[simhashPairsAgainstIndex]]
    * derive candidates from (SimhashIndexSpec pins their equality, so
    * the two paths must share this expression, not re-state it).
    */
  private def simhashChunkKeys(sh: Column, maxHamming: Int): Column =
    array(simhashChunkParams(maxHamming).map { case (_, off, mask) =>
      shiftright(sh, off).bitwiseAND(lit(mask))
    }: _*)

  def simhashChunkParams(maxHamming: Int): Seq[(Int, Int, Long)] = {
    val numChunks = maxHamming + 1
    val widths = Array.tabulate(numChunks)(i => 64 / numChunks + (if (i < 64 % numChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until numChunks).map { i =>
      // (1L << 64) - 1 is 0 under JVM shift-mod-64: a 64-bit-wide chunk
      // (maxHamming = 0, i.e. exact-fingerprint match) must mask with -1L
      // or every fingerprint lands in chunk value 0 — one giant bucket.
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
      (i, offsets(i), mask)
    }
  }

  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Long = 0): DataFrame =
    fingerprintPairs(
      // widen: simhash64_text tokenizes + hashes every token — the
      // narrow CPU pass (see Widen)
      graft.operators.Widen.widen(df).select(col(idCol),
        SimHash.simhash64_text(lower(col(textCol))).as("_fp_sh")),
      idCol, "_fp_sh", maxHamming, maxBucketSize)

  /** Hamming near-dup pairs over ANY precomputed 64-bit fingerprint
    * column — the candidate machinery [[simhashPairs]] runs, factored
    * out so other fingerprint families (perceptual image hashes,
    * [[graft.multimodal.PerceptualHash.dhash64]]) ride the identical
    * pigeonhole chunk join: split each fingerprint into maxHamming+1
    * chunks (two fingerprints within maxHamming MUST agree on at least
    * one chunk), equi-join per chunk with the bucket cap, exact
    * `bit_count(xor)` verify. NULL fingerprints (undecodable images)
    * are dropped — they have no visual identity to match on. Returns
    * (id_a, id_b, hamming) with id_a < id_b, distinct.
    */
  def fingerprintPairs(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Long = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (got $maxHamming): 64/(maxHamming+1)-bit " +
        "chunks below 4 bits make candidate buckets near-useless")
    val base = df.select(col(idCol).as("id"), col(fpCol).as("sh"))
      .filter(col("sh").isNotNull)
    val chunkedAll = base.select(col("id"), col("sh"),
      posexplode(simhashChunkKeys(col("sh"), maxHamming))
        .as(Seq("chunk_idx", "chunk")))
    val chunked =
      if (maxBucketSize <= 0) chunkedAll
      else chunkedAll
        .withColumn("_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_idx"), col("chunk"))))
        .filter(col("_n") <= maxBucketSize)
        .drop("_n")
    val a = chunked.select(col("chunk_idx"), col("chunk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /** Persist a simhash INDEX (`dir/fp.parquet`: id, sh) — 8 bytes of
    * fingerprint per doc, the cheapest of the near-dup indexes. Chunk
    * keys are NOT stored: they derive from the fingerprint for any
    * maxHamming ([[simhashChunkParams]]), so one index serves every
    * query-time hamming bound — unlike minhash bands, which are fixed
    * per build.
    */
  def buildSimhashIndex(df: DataFrame, idCol: String, textCol: String, dir: String): Unit =
    writeSimhashIndex(df, idCol, textCol, dir, "overwrite")

  /** Append a new (already-deduped) batch's fingerprints — same
    * ingestion tail as [[appendToMinhashIndex]]; SimhashIndexSpec pins
    * append ≡ rebuild-from-union. Caller contract: batch ids are new.
    */
  def appendToSimhashIndex(df: DataFrame, idCol: String, textCol: String, dir: String): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "append-simhash") {
      writeSimhashIndex(df, idCol, textCol, dir, "append")
    }

  private def writeSimhashIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String, mode: String): Unit =
    writeFingerprintIndex(
      df.select(col(idCol),
        SimHash.simhash64_text(lower(col(textCol))).as("_fp_sh")),
      idCol, "_fp_sh", dir, mode)

  /** Persist a generic 64-bit FINGERPRINT index (`dir/fp.parquet`:
    * id, sh) — the simhash index's layout opened to any fingerprint
    * family: perceptual image hashes
    * ([[graft.multimodal.PerceptualHash.dhash64]]) get the same
    * build-once/probe-many lifecycle (append / probe / tombstone
    * delete via [[removeFromSimhashIndex]] semantics / compact via
    * [[compactSimhashIndex]] — same file, same id column). Chunk keys
    * are derived at query time, so one index serves any maxHamming.
    */
  def buildFingerprintIndex(df: DataFrame, idCol: String, fpCol: String, dir: String): Unit =
    writeFingerprintIndex(df, idCol, fpCol, dir, "overwrite")

  /** Append a new (already-deduped) batch's fingerprints; caller
    * contract: batch ids are new. PhashIndexSpec pins append ≡
    * rebuild-from-union.
    */
  def appendToFingerprintIndex(df: DataFrame, idCol: String, fpCol: String, dir: String): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "append-fingerprint") {
      writeFingerprintIndex(df, idCol, fpCol, dir, "append")
    }

  /** fp.parquet doubles as the ingestion LEDGER
    * ([[dedupNewFingerprintBatch]]'s replay anti-join), so NULL
    * fingerprints (undecodable images) are kept: they must drop on
    * replay like any ingested id. A null `sh` derives null chunk keys,
    * which join nothing — harmless to every probe.
    */
  private def writeFingerprintIndex(
      df: DataFrame, idCol: String, fpCol: String, dir: String, mode: String): Unit =
    df.select(col(idCol).as("id"), col(fpCol).as("sh"))
      .write.mode(mode).parquet(s"$dir/fp.parquet")

  /** Near-dup pairs of a NEW batch against a persisted simhash index:
    * chunk keys recomputed on BOTH sides from the fingerprints, the
    * pigeonhole candidate equi-join sized by the batch, exact hamming
    * verify. Cap semantics mirror [[minhashPairsAgainstIndex]]: counted
    * over the JOINED bucket universe, <= 0 = uncapped (the guarantee).
    * Returns (id_new, id_corpus, hamming).
    */
  def simhashPairsAgainstIndex(
      newDf: DataFrame, idCol: String, textCol: String, dir: String,
      maxHamming: Int = 3, maxBucketSize: Long = 0): DataFrame =
    fingerprintPairsAgainstIndex(
      newDf.select(col(idCol),
        SimHash.simhash64_text(lower(col(textCol))).as("_fp_sh")),
      idCol, "_fp_sh", dir, maxHamming, maxBucketSize)

  /** [[simhashPairsAgainstIndex]]'s core over a precomputed batch
    * fingerprint column — probes a [[buildFingerprintIndex]] (or
    * simhash) index with any 64-bit fingerprint family. NULL batch
    * fingerprints (undecodable images) never pair.
    */
  def fingerprintPairsAgainstIndex(
      newDf: DataFrame, idCol: String, fpCol: String, dir: String,
      maxHamming: Int = 3, maxBucketSize: Long = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (got $maxHamming)")
    val spark = newDf.sparkSession
    def chunksOf(fps: DataFrame, idName: String): DataFrame =
      fps.select(col("id").as(idName), col("sh"),
        posexplode(simhashChunkKeys(col("sh"), maxHamming))
          .as(Seq("chunk_idx", "chunk")))
    val idxFp = graft.operators.IndexOps.dropTombstoned(spark, dir,
      spark.read.parquet(s"$dir/fp.parquet"), "id")
    val newFp = newDf.select(col(idCol).as("id"), col(fpCol).as("sh"))
      .filter(col("sh").isNotNull)
    val newChunks = chunksOf(newFp, "id_new").withColumnRenamed("sh", "sh_n")
    val idxChunks = chunksOf(idxFp, "id_corpus").withColumnRenamed("sh", "sh_c")
    val (cn, ci) =
      if (maxBucketSize <= 0) (newChunks, idxChunks)
      else {
        val counts = newChunks.select(col("chunk_idx"), col("chunk"))
          .unionByName(idxChunks.select(col("chunk_idx"), col("chunk")))
          .groupBy(col("chunk_idx"), col("chunk"))
          .agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize)
          .drop("_n")
        (newChunks.join(counts, Seq("chunk_idx", "chunk")),
          idxChunks.join(counts, Seq("chunk_idx", "chunk")))
      }
    cn.join(ci, Seq("chunk_idx", "chunk"))
      .filter(col("id_new") =!= col("id_corpus"))
      .withColumn("hamming", bit_count(col("sh_n").bitwiseXOR(col("sh_c"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_new", "id_corpus", "hamming").distinct()
  }

  /** Dedup a NEW fingerprint batch end-to-end — [[dedupNewBatch]]'s
    * shape for the generic fingerprint (image) family: (1) drop batch
    * rows whose id is already in the index (fp.parquet is the ledger —
    * a replayed batch is a no-op); (2) drop in-batch near-dups
    * (connected components over [[fingerprintPairs]] edges, keep
    * smallest id); (3) drop survivors that are near-dups of the
    * persisted corpus. A missing index dir means this is the first
    * batch. Null-fingerprint rows (undecodable images) always survive
    * steps 2–3 (nothing to match on) but ARE replay-dropped by step 1
    * once appended. The caller appends the survivors
    * ([[appendToFingerprintIndex]]) so the next batch sees them —
    * [[graft.streaming.StreamingOps.dedupIngestFingerprints]] wires
    * both into one foreachBatch loop.
    */
  def dedupNewFingerprintBatch(
      df: DataFrame, idCol: String, fpCol: String, dir: String,
      maxHamming: Int = 3, maxBucketSize: Long = 0): DataFrame = {
    val unledgered = graft.operators.IndexOps.unledgered(df, idCol, s"$dir/fp.parquet")
    val fresh = unledgered.getOrElse(df)
    val inEdges = fingerprintPairs(fresh, idCol, fpCol, maxHamming, maxBucketSize)
      .select("id_a", "id_b")
    val local = graft.operators.Dedup.dropNearDups(fresh, idCol, inEdges)
    if (unledgered.isEmpty) local
    else {
      val dupIds = fingerprintPairsAgainstIndex(
        local, idCol, fpCol, dir, maxHamming, maxBucketSize)
        .select(col("id_new").as(idCol)).distinct()
      local.join(dupIds, Seq(idCol), "left_anti")
    }
  }

  /** Winnowing-fingerprint near-dup pairs: documents sharing at least
    * `minShared` selected rolling-hash fingerprints (catches copied
    * PASSAGES at any offset, which shingle-set Jaccard dilutes away on
    * long documents). Same bucket-join + giant-bucket-cap shape as
    * minhash.
    */
  /** Persist a winnow INDEX (`dir/fps.parquet`: id, fp — exploded
    * distinct fingerprints). The index saves re-winnowing the corpus
    * text (the expensive scan); per-doc denominators are recomputed at
    * probe time because the bucket cap is counted over the JOINED
    * universe, so they cannot be precomputed per corpus snapshot.
    * Completes the index-lifecycle family (minhash, simhash, IVF, PQ).
    */
  def buildWinnowIndex(df: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 5, window: Int = 4): Unit =
    writeWinnowIndex(df, idCol, textCol, dir, k, window, "overwrite")

  /** Append a new (already-deduped) batch's fingerprints;
    * WinnowIndexSpec pins append ≡ rebuild-from-union. Caller
    * contract: batch ids are new, same k/window as the build.
    */
  def appendToWinnowIndex(df: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 5, window: Int = 4): Unit =
    graft.operators.IndexOps.withMutationLock(df.sparkSession, dir, "append-winnow") {
      writeWinnowIndex(df, idCol, textCol, dir, k, window, "append")
    }

  private def writeWinnowIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int, window: Int, mode: String): Unit =
    df.select(col(idCol).as("id"),
      explode(Winnowing.winnow_fingerprints(col(textCol), k, window)).as("fp"))
      .distinct()
      .write.mode(mode).parquet(s"$dir/fps.parquet")

  /** Near-dup pairs of a NEW batch against a persisted winnow index:
    * fingerprint equi-join, cap and per-doc denominators over the
    * JOINED universe (the [[winnowPairs]] semantics — WinnowIndexSpec
    * pins equality with the cross-pair slice of a fresh union run).
    * Returns (id_new, id_corpus, shared_fingerprints, containment).
    */
  def winnowPairsAgainstIndex(
      newDf: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 5, window: Int = 4,
      minSharedRatio: Double = 0.5, maxBucketSize: Long = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = newDf.sparkSession
    val idxFps = graft.operators.IndexOps.dropTombstoned(spark, dir,
      spark.read.parquet(s"$dir/fps.parquet").toDF("id_corpus", "fp"), "id_corpus")
    val newFps = newDf.select(col(idCol).as("id_new"),
      explode(Winnowing.winnow_fingerprints(col(textCol), k, window)).as("fp"))
      .distinct()
    val (cn, ci) =
      if (maxBucketSize <= 0) (newFps, idxFps)
      else {
        val counts = newFps.select(col("fp"))
          .unionByName(idxFps.select(col("fp")))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize)
          .drop("_n")
        (newFps.join(counts, Seq("fp")), idxFps.join(counts, Seq("fp")))
      }
    val cn2 = cn.withColumn("nfp_n", count(lit(1)).over(Window.partitionBy(col("id_new"))))
    val ci2 = ci.withColumn("nfp_c", count(lit(1)).over(Window.partitionBy(col("id_corpus"))))
    cn2.join(ci2, Seq("fp"))
      .filter(col("id_new") =!= col("id_corpus"))
      .groupBy(col("id_new"), col("nfp_n"), col("id_corpus"), col("nfp_c"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .withColumn("containment",
        round(col("shared_fingerprints") / least(col("nfp_n"), col("nfp_c")), 4))
      .filter(col("containment") >= minSharedRatio)
      .select("id_new", "id_corpus", "shared_fingerprints", "containment")
  }

  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      window: Int = 4,
      minSharedRatio: Double = 0.5,
      maxBucketSize: Long = 200): DataFrame =
    fingerprintSetPairs(
      // widen: the rolling-hash fingerprint explode is the narrow CPU
      // pass (see Widen)
      graft.operators.Widen.widen(df).select(col(idCol).as("id"),
        explode(Winnowing.winnow_fingerprints(col(textCol), k, window)).as("fp"))
        .distinct(),
      minSharedRatio, maxBucketSize)

  /** Containment pairs over an exploded DISTINCT (id, fp) fingerprint
    * frame — [[winnowPairs]]'s machinery factored out so other
    * set-fingerprint families (per-frame video hashes,
    * [[graft.multimodal.Multimodal.videoFrameHashes]]) share the
    * identical capped bucket join + containment verify. Returns
    * (id_a, id_b, shared_fingerprints, containment).
    */
  def fingerprintSetPairs(
      exploded: DataFrame,
      minSharedRatio: Double,
      maxBucketSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Bucket cap (window over fp), then per-doc fingerprint count AFTER
    // the cap (window over id) — the denominator must measure the same
    // universe the join can actually match in. Carrying nfp on every row
    // instead of a separate groupBy-counts frame removes two joins and
    // two full recomputes of this subtree (the explain audit showed the
    // counts formulation at 11 exchanges; this shape plans 3 shuffles +
    // the self-join, and the join's two sides are identical subplans
    // that AQE reuses as one exchange).
    // maxBucketSize <= 0 = uncapped (same contract as simhashPairs);
    // the fp-count window is skipped, the nfp denominator window stays.
    val preCap =
      if (maxBucketSize <= 0) exploded
      else exploded
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("_n") <= maxBucketSize)
    // widenBy(fp): the self-join below requires fp hash partitioning
    // anyway; pinning it user-specified keeps the within-bucket pair
    // generation (the quadratic part) from running on ONE AQE-coalesced
    // post-shuffle partition at bench bytes (q41: a 1.4 s single-task
    // stage). Byte-guarded identity at corpus scale, where AQE's own
    // sizing of the join exchange is the right call.
    val capped = graft.operators.Widen.widenBy(
      preCap
        .withColumn("nfp", count(lit(1)).over(Window.partitionBy(col("id"))))
        .select(col("id"), col("fp"), col("nfp")),
      col("fp"))
    // containment ratio (shared / smaller set) rather than an absolute
    // count: same-domain corpora share many incidental fingerprints, but
    // only near-dups share most of the SMALLER document's prints.
    capped.toDF("id_a", "fp", "nfp_a")
      .join(capped.toDF("id_b", "fp", "nfp_b"), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("nfp_a"), col("id_b"), col("nfp_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .withColumn("containment",
        round(col("shared_fingerprints") / least(col("nfp_a"), col("nfp_b")), 4))
      .filter(col("containment") >= minSharedRatio)
      .select("id_a", "id_b", "shared_fingerprints", "containment")
  }

  /** Row for the blocked all-pairs scan. Public: Spark's generated
    * deserializer instantiates it from codegen'd code.
    */
  final case class VecRow(id: Long, v: Array[Double], n: Double)
  final case class VecBlock(bid: Int, rows: Array[VecRow])

  /** Embedding-cosine near-dup pairs above `threshold` — exact
    * all-pairs, in the BLOCKED shape: vectors are grouped into
    * `nBlocks` disjoint hash blocks, the (small) block table is
    * self-joined on `bid_a <= bid_b` (each unordered block combination
    * exactly once), and the dense cross products run in a tight loop
    * inside the task. Compared to the row-level cross join this
    * serializes each vector once per BLOCK PAIR (≈ nBlocks copies)
    * instead of once per row pair (≈ corpus copies) — the classic GEMM
    * tiling argument; at sf0.1 it took q33 from 5.5 s to ~1 s. At
    * 100 TB size nBlocks so a block pair fits a task (it's still O(n²)
    * WORK — the scale path for huge corpora is LSH/IVF bucketing, this
    * is the exact yardstick).
    *
    * Dot products accumulate in index order with double precision, so
    * values are bit-identical to the row-at-a-time formulation (and to
    * the DuckDB oracle).
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBlocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // VecRow.id is a primitive Long: a non-numeric id column would cast
    // to null and NPE inside the deserializer — reject it up front
    val idType = df.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"embeddingCosinePairs: id column '$idCol' must be numeric (castable to " +
        s"long), got ${idType.simpleString}; hash or dense-rank string ids first")
    val base = df.select(
      col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"),
      graft.vector.Ann.l2norm(col(vecCol)).as("n")).as[VecRow]
    val blocks = base
      .groupByKey(r => (math.floorMod(java.lang.Long.hashCode(r.id), nBlocks)))
      .mapGroups((bid, it) => VecBlock(bid, it.toArray.sortBy(_.id)))
    // self-joinWith needs explicit aliases to disambiguate bid vs bid
    val a = blocks.as("ba")
    val b = blocks.as("bb")
    val joined = a.joinWith(b, $"ba.bid" <= $"bb.bid", "inner")
    val raw = joined.flatMap { case (ba, bb) =>
      val same = ba.bid == bb.bid
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < ba.rows.length) {
        val ra = ba.rows(i)
        var j = if (same) i + 1 else 0
        while (j < bb.rows.length) {
          val rb = bb.rows(j)
          if (ra.id != rb.id) {
            var acc = 0.0
            var k = 0
            val m = math.min(ra.v.length, rb.v.length)
            while (k < m) { acc += ra.v(k) * rb.v(k); k += 1 }
            val cos = acc / (ra.n * rb.n)
            // cheap pre-filter at raw precision: everything below
            // threshold - half-ulp-of-rounding can't round up past it
            if (cos >= threshold - 0.00005) {
              if (ra.id < rb.id) out += ((ra.id, rb.id, cos))
              else out += ((rb.id, ra.id, cos))
            }
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("id_a", "id_b", "cos_raw")
    raw
      .withColumn("cosine", round(col("cos_raw"), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
