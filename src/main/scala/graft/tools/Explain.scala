package graft.tools

import graft.{Sessions, SparkEntry}

/** Perf-loop helper: print the formatted physical plan and timed runs of
  * one or more registered queries (comma-separated), in ONE JVM/session —
  * the per-query timings then measure plans, not session startup.
  *
  * Usage: runMain graft.tools.Explain <q1[,q2,...]> [sfDir] [reps]
  *
  * SPARK_GRAFT_PLAN_DIR=<dir> (+ optional SPARK_GRAFT_PLAN_SUFFIX, e.g.
  * `_before`) persists each formatted plan to <dir>/<name><suffix>.txt —
  * the plans/rNN evidence files the optimization rounds commit. Timed
  * reps use Bench's run step, [[Sessions.runAndReset]].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(Sessions.defaultCpus)

    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    names.foreach { name =>
      val q = SparkEntry.registry.find(_.name == name)
        .getOrElse(sys.error(s"unknown query $name; have: ${SparkEntry.registry.map(_.name).mkString(", ")}"))
      spark.sparkContext.setJobDescription(s"explain:$name")
      val df = q.run(spark, sfDir)
      val planText = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"==== $name ====")
      println(planText)
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d, s"$name$planSuffix.txt")
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p,
          planText.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
      // fresh plan per rep + cache clear between runs: the timing is
      // the recompute cost, exactly as Bench measures steady runs
      for (i <- 1 to reps) {
        val secs = Sessions.runAndReset(spark)(q.run(spark, sfDir))
        println(f"[explain] $name run $i: $secs%.3f s")
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
