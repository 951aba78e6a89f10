package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place the engine builds a SparkSession, and the one run step
  * every measuring entry point (Bench, Explain, Verify, the registry smoke
  * test) shares. Every main and every spec gets the same engine: the
  * native SQL functions and top-k planning of [[GraftExtensions]], UTC,
  * Python-dict map semantics, one shuffle partition per core. */
object Sessions {

  /** SPARK_GRAFT_CPUS, else every core this JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with the engine's confs; `extra` confs are
    * applied last and win. Builder confs only take effect on the JVM's
    * first session, so build it here before anything else does. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions) // SQL fns + top-k strategy/rule
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // duplicate map keys keep the last value, as a Python dict does
      // (Cleaning.decodeIsq mirrors the reference's dict build)
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds a query's DataFrame, executes its COMPLETE physical plan into
    * the noop sink (count() would let Catalyst prune the work; noop
    * discards rows executor-side, with no driver collect), then [[reset]]s
    * whether or not the run failed. Returns the wall seconds of build plus
    * execute; the reset is untimed. */
  def runAndReset(spark: SparkSession)(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      build.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally reset(spark)
  }

  /** Drops every cache a query left behind, so the next run recomputes
    * rather than hitting the sketch DataFrames this one materialized
    * (cache lookup is by logical plan). The explicit GC stops dropped
    * cache blocks and broadcast relations from piling up until a
    * multi-second full GC lands inside some later query's timed run
    * (measured: q_tpch_q10 at 6.8 s in full-suite context vs 0.6 s
    * standalone), and lets the ContextCleaner release weakly referenced
    * broadcast/shuffle state each cycle. */
  def reset(spark: SparkSession): Unit = {
    operators.Caches.unpersistAll()
    spark.catalog.clearCache()
    System.gc()
  }
}
