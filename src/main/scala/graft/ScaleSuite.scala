package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.LocalSpark

/** Full-suite scale run (round-3 VERDICT #7): materialize a COMPLETE
  * sf≈1 table set under `GRAFT_SCALE_DIR` (every table the queries
  * read, replicated with key offsets — fact keys shift per replica so
  * key cardinality grows with the data; dimension tables pass through)
  * and run the whole `SparkEntry.queries` suite against it with
  * Bench's warmup and timed loop (`SPARK_GRAFT_BENCH_ONLY`,
  * `SPARK_GRAFT_BENCH_PASSES`).
  *
  * The per-query times land next to the sf0.1 BENCH numbers in
  * THROUGHPUT.md as a scaling table: a query whose time grows ~10x the
  * data is linear (scan-bound — fine), sublinear is better, and
  * anything superlinear is a round-5 work item. The fixed-slice recall
  * gates (q39–q44) and bounded-query ANN tops are EXPECTED to stay
  * flat — their work is capped by construction, which the table
  * records rather than hides.
  */
object ScaleSuite {

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = LocalSpark.session(s"local[$cpus]", cpus, "WARN")

    // ---- phase 0: full replicated table set ----
    replicateCorpus(spark, baseDir, outDir, replicas)
    val rep = replica(replicas)
    // fact tables for the TPC-H-ish queries: shift the join keys in
    // LOCKSTEP on both sides so q3's lineitem->orders->customer chain
    // matches within each replica
    write(spark.read.parquet(s"$baseDir/lineitem.parquet")
      .select(col("*"), rep)
      .withColumn("l_orderkey", col("l_orderkey") + col("_r") * lit(100000000L))
      .drop("_r"), outDir, "lineitem")
    write(spark.read.parquet(s"$baseDir/orders.parquet")
      .select(col("*"), rep)
      .withColumn("o_orderkey", col("o_orderkey") + col("_r") * lit(100000000L))
      .withColumn("o_custkey", col("o_custkey") + col("_r") * lit(10000000L))
      .drop("_r"), outDir, "orders")
    write(spark.read.parquet(s"$baseDir/customer.parquet")
      .select(col("*"), rep)
      .withColumn("c_custkey", col("c_custkey") + col("_r") * lit(10000000L))
      .drop("_r"), outDir, "customer")

    // dimension tables pass through unchanged
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$baseDir/$t.parquet"), outDir, t)
    }
    val nEvents = spark.read.parquet(s"$outDir/events.parquet").count()
    val nLine = spark.read.parquet(s"$outDir/lineitem.parquet").count()
    println(s"""{"bench":"scale_suite","workload":"generate","events":$nEvents,"lineitem":$nLine,"replicas":$replicas}""")

    // ---- phase 1: warmup (Bench's shared recipe) then the timed suite ----
    Bench.warmAll(spark, sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"))
    val results = Bench.timeSuite(spark, outDir)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failedJson = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"scale_suite_total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"passes":${Bench.passes},"replicas":$replicas}""")
    spark.stop()
  }

  private def replica(replicas: Int): Column =
    explode(sequence(lit(0L), lit(replicas - 1L))).as("_r")

  private def write(df: DataFrame, outDir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

  /** `events` replicated: replica r shifts event and user ids into its
    * own range, so key cardinality grows with the data. */
  def replicatedEvents(events: DataFrame, replicas: Int): DataFrame =
    events.select(col("*"), replica(replicas))
      .select(
        (col("event_id") + col("_r") * lit(1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("_r") * lit(1000000L)).as("user_id"),
        col("event_type"), col("value"))

  /** Replicates the corpus tables (events, documents, embeddings) of
    * `baseDir` into `outDir/<table>.parquet`: replica r shifts the
    * event/user/doc/vec ids into its own range, so key cardinality grows
    * with the data. Shared with [[ScaleBench]]'s phase 0.
    */
  def replicateCorpus(spark: SparkSession, baseDir: String, outDir: String,
      replicas: Int): Unit = {
    val rep = replica(replicas)
    write(replicatedEvents(spark.read.parquet(s"$baseDir/events.parquet"), replicas),
      outDir, "events")

    // replica tag appended to the text: replicas are near-dups of their
    // original (realistic for web corpora), not byte-identical copies
    write(spark.read.parquet(s"$baseDir/documents.parquet")
      .select(col("*"), rep)
      .select(
        (col("doc_id") + col("_r") * lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" replica"), col("_r")).as("text"),
        col("lang"), col("source"), col("n_chars")), outDir, "documents")

    write(spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select(col("*"), rep)
      .select(
        (col("vec_id") + col("_r") * lit(1000000L)).as("vec_id"),
        // small per-replica rotation of the first component keeps the
        // replicas distinct vectors while preserving the distribution
        transform(col("embedding"),
          (x, i) => when(i === 0, x + col("_r").cast("float") * lit(0.001f))
            .otherwise(x)).as("embedding"),
        col("label")), outDir, "embeddings")
  }
}
