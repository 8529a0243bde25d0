package graft

import graft.util.{LocalSpark, StageLog}

/** Dev utility (guide §1): run queries at the bench scale and print
  * per-job wall time + per-stage executor metrics of the last of
  * `SPARK_GRAFT_BENCH_PASSES` passes, so a composed pipeline's cost
  * lands on the sub-action that owns it. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.ProfileOne q65_curation_pipeline [query ...]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <query> [query ...]")
    val selected = SparkEntry.selectQueries(args, "ProfileOne")
    val passes = Bench.passes
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.session(s"local[$cpus]", cpus, "ERROR")
    val log = StageLog.attach(spark)

    for ((name, fn) <- selected) {
      (1 to passes).foreach { p =>
        spark.catalog.clearCache(); System.gc()
        log.reset()
        val t0 = System.nanoTime()
        Bench.force(fn(spark, sfDir))
        val total = (System.nanoTime() - t0) / 1e9
        println(f"\n===== $name pass $p: total $total%.2f s =====")
        if (p == passes) {
          println(f"${"job"}%4s ${"wall_s"}%7s ${"cpu_s"}%7s ${"tasks"}%5s " +
            f"${"shR_MB"}%8s ${"shW_MB"}%8s  first-graft-frame")
          for (j <- log.jobs() if j.wallSec >= 0.05) {
            val st = j.stages
            println(f"${j.id}%4d ${j.wallSec}%7.2f ${st.map(_.cpuSec).sum}%7.2f " +
              f"${st.map(_.tasks).sum}%5d ${st.map(_.shuffleReadBytes).sum / 1e6}%8.1f " +
              f"${st.map(_.shuffleWriteBytes).sum / 1e6}%8.1f")
            st.foreach { s =>
              val frame = s.graftFrames.find(!_.contains("ProfileOne")).getOrElse("").take(110)
              println(f"      stage ${s.id}%5d ${s.wallSec}%6.2f cpu=${s.cpuSec}%6.2f " +
                f"t=${s.tasks}%3d ${s.name} $frame")
            }
          }
        }
      }
    }
    spark.stop()
  }
}
