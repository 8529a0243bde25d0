package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hashing-trick TF-IDF document vectors + cosine similarity — the
  * embedding-FREE similarity path: when no pretrained embedding
  * column exists (or its model is unavailable at corpus scale), the
  * classic sparse alternative is hashed TF-IDF (the public
  * HashingVectorizer / Spark-MLlib HashingTF recipe) with smooth idf
  * (`ln((N+1)/(df+1)) + 1`, the sklearn formula).
  *
  * Pipeline:
  *
  *  1. tokens ([[TextIndex.terms]] — the repo-wide lowered token
  *     twin), bucket = the [[graft.operators.CountMin]] md5 bucket
  *     (depth 0) mod `numBuckets` — the hashing trick, same hash on
  *     both engines;
  *  2. tf per (doc, bucket); df per bucket; idf from the smooth
  *     formula; w = tf·idf;
  *  3. per-doc DENSE vector (index-ordered array) so every norm and
  *     dot product is ARRAY-ORDER double arithmetic — the q27
  *     discipline ([[graft.vector.Ann]]): distributed float
  *     summation never decides a result;
  *  4. candidates come from the SPARSE inverted index with a
  *     stop-bucket cap (`df <= max(8, N div 5)`): a bucket present in
  *     over a fifth of the corpus is a stopword bucket — it carries
  *     ~no idf mass but would generate O(N) candidates per probe (the
  *     repo-wide bucket-cap discipline: candidate generation is never
  *     all-pairs);
  *  5. exact cosine `dot/(|a||b|)` on the dense vectors for candidate
  *     pairs only, rank per probe by (cosine desc, id asc), top k.
  *
  * 100 TB shape: two aggregations build the model (tf, df — both
  * map-side combining); the index join fans out by at most `maxDf`
  * per (probe, bucket); dense vectors are 8·numBuckets bytes per doc
  * and join AFTER candidate distinct-ing, so vector payloads never
  * amplify through the bucket join. Docs with zero tokens have no
  * vector and no candidates (documented).
  */
object TfIdf {

  /** Sparse model: (id, bucket, tf, df, n_docs, w). */
  private def sparse(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextIndex.terms(col(textCol))).as("term"))
    val tf = toks
      .groupBy(col("id"),
        graft.operators.CountMin.bucket_col(0, col("term"), numBuckets)
          .as("bucket"))
      .agg(count(lit(1)).as("tf"))
    val dfb = tf.groupBy("bucket").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfb, "bucket")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0))
  }

  /** Dense tf-idf vectors: (id, vec array<double>[numBuckets], n).
    * Unnormalized + the L2 norm alongside — cosine divides at dot
    * time, exactly [[graft.vector.Ann.cosineTopK]]'s formula.
    */
  def docVectors(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 1024): DataFrame =
    denseFrom(sparse(docs, idCol, textCol, numBuckets), numBuckets)

  private def denseFrom(sp: DataFrame, numBuckets: Int): DataFrame = {
    // pin the dense build's parallelism: the sparse map rows LOOK tiny
    // to AQE (it coalesced this stage to ONE task in the ScaleBench
    // duel — 62 s serialized at 50k docs), but each row inflates to an
    // 8*numBuckets-byte array in the projection below. An explicit
    // repartition is user-specified partitioning AQE must respect.
    // toIntOption: some distributions set this conf to a non-numeric
    // sentinel (e.g. "auto"); a bare toInt would throw at plan build
    val shufflePartitions =
      sp.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        .toIntOption.filter(_ > 0).getOrElse(32)
    sp.groupBy("id")
      .agg(map_from_entries(
        collect_list(struct(col("bucket").cast("int"), col("w")))).as("_m"))
      .repartition(shufflePartitions, col("id"))
      .withColumn("vec", transform(sequence(lit(0), lit(numBuckets - 1)),
        b => coalesce(element_at(col("_m"), b), lit(0.0))))
      .select(col("id"), col("vec"),
        graft.vector.Ann.l2norm(col("vec")).as("n"))
  }

  /** Cosine top-k over the hashed tf-idf space: probes = rows of
    * `docs` satisfying `probePred`. Returns (query_id, neighbor_id,
    * cosine, rank) — cosine rounded to 4 decimals AFTER ranking, the
    * q27 shape.
    */
  def cosineTopK(docs: DataFrame, idCol: String, textCol: String,
      probePred: Column, k: Int = 5, numBuckets: Int = 1024,
      stopBucketCap: Long = -1L): DataFrame = {
    val probeIds = docs.filter(probePred)
      .select(col(idCol).as("query_id")).distinct()
    // the probe vectors broadcast below: bound the probe set before
    // anything is checkpointed (the Ann bounded-queries contract)
    graft.vector.Ann.requireBoundedQueries(probeIds, graft.vector.Ann.MaxQueries,
      "TfIdf.cosineTopK")
    // the sparse model feeds BOTH the candidate index and the dense
    // vectors (two joins each) — checkpoint once or the tokenize+tf+df
    // lineage re-executes per consumer (the q65 multi-consumer
    // discipline; blocks release on RDD GC). widen: the tokenize+hash
    // pass below runs on the scan's partitioning (see Widen)
    val sp = sparse(graft.operators.Widen.widen(docs), idCol, textCol,
      numBuckets).localCheckpoint()
    // stop-bucket cap: max(8, N div 5) by default — the floor keeps
    // tiny corpora usable; plan-constant via the 1-row broadcast
    // already in `sp`. An explicit stopBucketCap overrides (the
    // ScaleBench duel's uncapped arm passes Long.MaxValue).
    val capExpr =
      if (stopBucketCap >= 0L) lit(stopBucketCap)
      else greatest(lit(8L), floor(col("n_docs") / 5).cast("long"))
    val idx = sp.filter(col("df") <= capExpr)
      .select("id", "bucket")
    val cand = idx.join(probeIds, col("id") === col("query_id"))
      .select(col("query_id"), col("bucket"))
      .join(idx.select(col("id").as("neighbor_id"), col("bucket")), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val vec = denseFrom(sp, numBuckets)
    // PROBE-side dense vectors densify only the probe ids' sparse rows
    // (identical per-id values — densification is per-id) and ride a
    // broadcast: the old vec⋈vec chain shuffled the 8·numBuckets-byte
    // query vector attached to EVERY candidate pair through the
    // neighbor-side join; now the corpus-side vectors cross one
    // shuffle and the query vectors cross zero. The probe set was
    // bounded at the top (Ann.MaxQueries).
    val qvec = broadcast(
      denseFrom(sp.join(probeIds, col("id") === col("query_id"))
        .select("id", "bucket", "w"), numBuckets)
        .select(col("id").as("query_id"), col("vec").as("_qv"),
          col("n").as("_qn")))
    val scored = cand
      .join(vec.select(col("id").as("neighbor_id"), col("vec").as("_cv"),
        col("n").as("_cn")), "neighbor_id")
      .join(qvec, "query_id")
      .withColumn("cosine",
        graft.vector.Ann.dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")))
      // drop the 8KB vector payloads BEFORE the rank window's shuffle —
      // only (query_id, neighbor_id, cosine) triples move
      .select("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }
}
