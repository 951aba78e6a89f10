package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR through [[Sessions.runAndReset]] (the full physical
  * plan into the noop sink, caches dropped after every run).
  * Prints ONE JSON line (per-query cold and steady seconds, `failed`),
  * and exits with status 1 when any query failed. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.defaultCpus)

    // JVM/codegen warmup outside the timed region. Purely SYNTHETIC data
    // (spark.range + a throwaway temp-dir parquet round trip) — no
    // testdata is touched, listed, or cached here, so every timed query
    // still computes from the parquet inputs cold. What this buys: the
    // session-global one-time costs (parquet reader + output committer
    // class init, first shuffle exchange, first broadcast build, first
    // window, first AQE stage orchestration) are real seconds that
    // otherwise land INSIDE the first timed query's first run (measured:
    // q_top_customers first-run 4.5 s solo vs 1.9 s steady, mostly this)
    // — session init is not a property of any query and timing it as one
    // distorts the per-query comparison the bench exists for.
    spark.range(1000000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions._
      val warmDir = java.nio.file.Files.createTempDirectory("graft-warmup")
      val warmPath = warmDir.resolve("w.parquet").toString
      val df = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      df.write.mode("overwrite").parquet(warmPath)
      val back = spark.read.parquet(warmPath)
      back.join(back.groupBy(col("k")).agg(sum(col("id")).as("s")), "k")
        .join(broadcast(spark.range(7).select(col("id").as("k"))), "k")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("id"))))
        .filter(col("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
      // clean the temp dir — the warmup leaves no filesystem residue
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(warmDir.toFile)
    }

    // a cold run then steady runs per query: the cold run includes one-time
    // whole-stage codegen compilation (a fixed per-plan Janino cost,
    // ~seconds for the widest expression trees); steady is the per-batch
    // cost — the number that scales with data volume.
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.registry)(names =>
      SparkEntry.registry.filter(q => names.contains(q.name)))
    // a failed query reports -1.0 — a visible sentinel in the JSON, not
    // a plausible-looking near-zero timing. Caches are dropped BETWEEN
    // the runs too: run 2 then measures pure codegen amortization
    // (recompute cost), not a hit on what run 1 materialized.
    def once(q: GraftQuery): Double =
      try Sessions.runAndReset(spark)(q.run(spark, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${QueryFailure(q.name, e).line}")
          -1.0
      }
    // steady = MIN of three post-warmup runs FOR EVERY query: single-
    // shot steady readings on this host swing up to 3× from GC/CPU-
    // frequency noise (measured: identical back-to-back runs at 5.1 s
    // and 11.3 s, and a documented ±60% scatter on sub-3 s queries
    // that forced three solo re-benches in round 10), and the minimum
    // of repeated measurements is the standard estimator of the true
    // recompute cost under one-sided noise. Min-of-2 left the short
    // queries — exactly the ones whose SLOPE ratios the 10× audit
    // divides — inside the noise floor, so the third run is paid for
    // everyone, not just the tail. A failed run (-1) must stay -1,
    // never win the min.
    val results = selected.map { q =>
      val c = once(q)
      val steadies = Seq.fill(3)(once(q))
      (q, c, if (steadies.exists(_ < 0)) -1.0 else steadies.min)
    }
    // the slowest queries get a FOURTH steady run folded into the min:
    // single-run noise on this host has twice produced ±3× false
    // regression flags precisely on the expensive tail, where one GC or
    // CPU-frequency excursion costs whole seconds
    val slow = results.filter(_._3 > 0).sortBy(-_._3).take(10).map(_._1).toSet
    val refined = results.map { case (q, c, st) =>
      if (slow.contains(q)) {
        val st3 = once(q)
        (q.name, c, if (st3 < 0) st else math.min(st, st3))
      } else (q.name, c, st)
    }
    // locale-independent formatting: a comma-decimal default locale would
    // otherwise emit invalid JSON
    def num(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def fmt(f: ((String, Double, Double)) => Double) =
      refined.map(r => "\"" + r._1 + "\":" + num(f(r))).mkString("{", ",", "}")
    val total = refined.map(_._2).sum
    val steady = refined.map(_._3).sum
    val nFailed = refined.count(r => r._2 < 0 || r._3 < 0)
    val json = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":${fmt(_._2)},"value_steady":${num(steady)},"queries_steady":${fmt(_._3)},"failed":$nFailed,"sf":"$sfDir"}"""
    println(json)
    // the stdout line gets tail-truncated by log capture on big
    // registries — ALSO persist the complete per-query JSON so every
    // query's timing is diffable across rounds
    // a SPARK_GRAFT_ONLY-filtered run must not clobber the full-registry
    // snapshot — route it to BENCH_PARTIAL.json unless explicitly targeted
    val defaultOut = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_PARTIAL.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
