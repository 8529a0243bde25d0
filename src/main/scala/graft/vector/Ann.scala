package graft.vector

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * - [[cosineTopK]]: brute-force exact baseline — broadcast the (small)
  *   query set against the corpus, `zip_with`/`aggregate` dot products,
  *   per-query ranking window. Corpus-side work is embarrassingly
  *   parallel; the only shuffle is the final per-query top-k.
  * - [[lshTopK]]: the scale path — random-hyperplane signatures (seeded,
  *   deterministic) bucket the corpus; search touches only the query's
  *   bucket ring. Recall measured against the brute baseline in
  *   AnnSpec.
  */
object Ann {

  /** Cap on the query-frame size for the top-k APIs. Every top-k entry
    * point broadcasts the query set (and [[Pq.ivfPqTopK]] additionally
    * collects it to build ADC LUTs) — correct for the serving shape
    * (thousands of probes against a huge corpus), an OOM for a
    * corpus-sized query frame. The guard turns that OOM into a
    * contract error; corpus×corpus similarity belongs to the pair APIs
    * (`NearDup.embeddingCosinePairs` and the LSH bucket families).
    */
  val MaxQueries = 100000

  /** Fail fast if `queries` exceeds `maxQueries` rows. The probe job is
    * bounded: `limit(n+1).count()` stops scanning at n+1 rows.
    */
  private[graft] def requireBoundedQueries(
      queries: DataFrame, maxQueries: Int, api: String): Unit = {
    require(maxQueries > 0 && maxQueries < Int.MaxValue,
      s"$api: maxQueries must be in [1, ${Int.MaxValue - 1}], got $maxQueries " +
        "(maxQueries + 1 rows are probed, so Int.MaxValue would overflow)")
    val probed = queries.limit(maxQueries + 1).count()
    if (probed > maxQueries) throw new IllegalArgumentException(
      s"$api: query frame exceeds maxQueries=$maxQueries rows; the query set is " +
        "broadcast (and LUT-collected for PQ) by contract. Batch the query frame, " +
        "raise maxQueries deliberately, or use the pairwise APIs " +
        "(NearDup.embeddingCosinePairs / LSH families) for corpus-vs-corpus shapes.")
  }

  def l2norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Index-order double accumulation in one tight loop
    * ([[DotProductExpr]]); bit-identical to the
    * `aggregate(zip_with(...))` combinator formulation it replaced, at
    * a fraction of the per-pair cost (no zipped intermediate array).
    */
  def dot(a: Column, b: Column): Column =
    DotProductExpr.dot_product(a, b)

  /** Exact cosine top-k. Returns (query_id, neighbor_id, cosine, rank),
    * self-matches excluded, rank ties broken by neighbor id.
    */
  def cosineTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, maxQueries: Int = MaxQueries): DataFrame = {
    requireBoundedQueries(queries, maxQueries, "cosineTopK")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      l2norm(col(vecCol)).as("_cn"))
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("_qv"),
      l2norm(col(qvecCol)).as("_qn"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("_cv"), col("_qv")) / (col("_cn") * col("_qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Deterministic random hyperplanes (fixed seed — reproducible plans,
    * no wall-clock dependence).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of a vector against the planes — one custom
    * expression evaluating every plane in a tight loop
    * ([[HyperplaneSig]]); the Column-combinator equivalent (one
    * zip_with/aggregate fold per plane) generates planes×dim inline
    * literals and was ~10x slower end-to-end.
    */
  def hyperplaneSignature(v: Column, planes: Array[Array[Double]]): Column =
    HyperplaneSig.signature(v, planes)

  /** Per-table LSH bucket signatures: ONE [[HyperplaneSig]] evaluation
    * over all tables' planes (8 separate signature expressions would
    * each re-materialize the vector); table t's bucket key is its
    * nPlanes-bit slice. Shared by [[lshTopK]] and the generated DuckDB
    * oracle ([[graft.OracleGen]]) so the bucket keys can't drift.
    */
  def tableSignatures(
      v: Column, planes: Array[Array[Double]], nPlanes: Int, tables: Int): Column = {
    val mask = (1L << nPlanes) - 1
    val full = hyperplaneSignature(v, planes)
    array((0 until tables).map(t =>
      shiftright(full, t * nPlanes).bitwiseAND(lit(mask))): _*)
  }

  /** Multi-table LSH top-k (OR-amplification): `tables` independent
    * plane sets; a corpus vector is a candidate if it shares the query's
    * bucket in ANY table; exact cosine rank within the candidate union.
    * For a neighbor at angle θ the hit probability is
    * 1-(1-(1-θ/π)^planes)^tables — tune (planes, tables) for the
    * recall/cost point. Candidate generation is an equi-join on
    * (table, signature): shuffle on small keys, never a cross join.
    */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nPlanes: Int = 4, tables: Int = 8, dim: Int = 64,
      maxQueries: Int = MaxQueries): DataFrame = {
    require(nPlanes * tables <= 64, "sign bits must fit a long")
    requireBoundedQueries(queries, maxQueries, "lshTopK")
    val planes = hyperplanes(nPlanes * tables, dim)
    def sigs(v: Column): Column = tableSignatures(v, planes, nPlanes, tables)

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      l2norm(col(vecCol)).as("_cn"), posexplode(sigs(col(vecCol))).as(Seq("_t", "_sig")))
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("_qv"),
      l2norm(col(qvecCol)).as("_qn"), posexplode(sigs(col(qvecCol))).as(Seq("_t", "_sig")))
    val cands = c.join(broadcast(q), Seq("_t", "_sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "_cv", "_cn", "_qv", "_qn")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands
      .withColumn("cosine", dot(col("_cv"), col("_qv")) / (col("_cn") * col("_qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }
}
