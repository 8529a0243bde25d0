package graft.cli

import java.nio.file.{Files, Paths}

import graft.util.LocalSpark

/** Plan review for `SparkEntry.queries` at `SPARK_GRAFT_SF_DIR`
  * (default sf0.01). Prints a red-flag summary per plan: cartesian
  * products, broadcast nested-loop joins, exchange and codegen-span
  * counts. The curated commentary lives in PLANS.md; this tool
  * regenerates the raw evidence.
  *
  * Usage: `runMain graft.cli.ExplainAudit [outFile] [query ...]`. An
  * argument containing `/` is the plans file; every other argument
  * names a query, and names restrict the audit to those queries
  * (unknown names fail fast). The `explain("formatted")` plans go to
  * the plans file when one is given, to stdout when only names are,
  * and to /tmp/graft_plans.txt when neither is.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val (paths, names) = args.toSeq.partition(_.contains('/'))
    val out = paths.headOption.orElse(
      if (names.isEmpty) Some("/tmp/graft_plans.txt") else None)
    val selected = graft.SparkEntry.selectQueries(names, "ExplainAudit")
    val spark = LocalSpark.session("local[4]", 4, "ERROR")

    val sb = new StringBuilder
    val summary = new StringBuilder
    for ((name, fn) <- selected) {
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n================ $name ================\n").append(plan)
      val exchanges = """\((\d+)\) Exchange""".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet.size
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin")
      val codegenSpans = """\[codegen id : (\d+)\]""".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet.size
      summary.append(f"$name%-24s exchanges=$exchanges%-3d codegen_spans=$codegenSpans%-3d" +
        (if (cartesian) "  !! CARTESIAN" else "") +
        (if (bnlj) "  (bnlj)" else "") + "\n")
    }
    out match {
      case Some(path) =>
        Files.write(Paths.get(path), sb.toString.getBytes("UTF-8"))
        println(s"[explain_audit] plans -> $path")
      case None => print(sb)
    }
    print(summary)
    spark.stop()
  }
}
