package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.analytics.ListingQueries
import graft.analytics.ListingQueries.Filters
import graft.etl.CleanPipeline
import graft.render.Charts
import graft.serving.DashboardServer
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: one workload in a fresh JVM. `run.py` starts
  * it, reads `@@perfbench` protocol lines from its stdout, and turns the
  * `result.json` it writes into metrics.
  *
  * Arguments are `key=value` pairs: workload, out, work, cpus, seed,
  * seconds, min_steady, trace, and per workload sf + queries (olap-llm)
  * or raw + filters (listings). `workload=oracles` only writes the DuckDB
  * oracle SQL of the named queries. */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.iterator.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val out = new File(a("out")); out.mkdirs()
    if (a("workload") == "oracles") { QueryPasses.oracles(a, out); return }
    val work = new File(a("work")); work.mkdirs()
    val cpus = a("cpus")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    warmup(spark, new File(work, "warmup"))
    val warmupS = (System.nanoTime() - t1) / 1e9
    val probe = if (a("trace") == "1") Some(new Probe(spark).install()) else None
    val tr = new Tracer(probe)
    say("ready")

    Probe.resetHeapPeak()
    val gc0 = Probe.gc
    val body = a("workload") match {
      case "listings" => Listings.run(spark, a, tr)
      case _          => QueryPasses.run(spark, a, tr)
    }
    val gc1 = Probe.gc
    val heapPeak = Probe.heapPeakMb
    val counters = probe.map(_.snapshot()).getOrElse(Map.empty)
    probe.foreach(_.uninstall())
    val result = body ++ Map(
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS),
      "jvm" -> Map(
        "gc_s" -> (gc1("jvm_gc_ms") - gc0("jvm_gc_ms") - Gc.explicitMs) / 1e3,
        "gc_count" -> (gc1("jvm_gc_count") - gc0("jvm_gc_count") - Gc.explicitCount),
        "heap_peak_mb" -> heapPeak),
      "cache_capacity_mb" ->
        spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0,
      "counters" -> counters,
      "batch_ms" -> probe.map(_.batchMs.toSeq).getOrElse(Nil),
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counts" -> s.counts)),
      "retained_heap_mb" -> Probe.retainedHeapMb)
    Files.writeString(new File(out, "result.json").toPath, Json(result), StandardCharsets.UTF_8)
    spark.stop()
    say("done")
  }

  def say(s: String): Unit = { println(s"@@perfbench $s"); System.out.flush() }

  /** Session-global one-time costs (first job, parquet reader and
    * committer, first shuffle, broadcast and window) on synthetic data, as
    * `graft.Bench` warms up, so they land in set-up rather than in the first
    * timed operation. */
  private def warmup(spark: SparkSession, dir: File): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val path = new File(dir, "w.parquet").getAbsolutePath
    spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    back.join(back.groupBy(col("k")).agg(sum(col("id")).as("s")), "k")
      .join(broadcast(spark.range(7).select(col("id").as("k"))), "k")
      .withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("id"))))
      .filter(col("rn") <= 3)
      .write.format("noop").mode("overwrite").save()
  }
}

/** Explicit full collections between passes, kept apart from the GC time
  * the measured work causes. */
object Gc {
  var explicitMs = 0.0
  var explicitCount = 0.0
  def full(): Unit = {
    val g0 = Probe.gc
    System.gc()
    val g1 = Probe.gc
    explicitMs += g1("jvm_gc_ms") - g0("jvm_gc_ms")
    explicitCount += g1("jvm_gc_count") - g0("jvm_gc_count")
  }
}

/** Shared pass loop: a first (cold) pass, then steady passes until both
  * `min_steady` passes ran and `seconds` have passed. Each pass records the
  * time tracing spent in it. */
object Passes {
  def run(a: Map[String, String], tr: Tracer)(pass: Int => Map[String, Any])
      : Seq[Map[String, Any]] = {
    val seconds = a("seconds").toDouble
    val minSteady = a("min_steady").toInt
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i <= minSteady || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r0 = tr.recordNs
      val p = pass(i)
      passes += p ++ Map("index" -> i, "kind" -> (if (i == 0) "first" else "steady"),
        "trace_s" -> (tr.recordNs - r0) / 1e9)
      Gc.full()
      i += 1
    }
    passes.toSeq
  }
}

/** `olap-llm`: registered queries, each built with `GraftQuery.run` and
  * executed into the noop sink, as `graft.Bench` does. The seed permutes
  * the query order of every pass. */
object QueryPasses {
  def run(spark: SparkSession, a: Map[String, String], tr: Tracer): Map[String, Any] = {
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val names = a("queries").split(",").toSeq
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
    val qs = names.map(registry)
    val sf = a("sf")
    val seed = a("seed").toLong

    def clear(): Unit = { graft.operators.Caches.unpersistAll(); spark.catalog.clearCache() }

    // the first pass also writes each result for the DuckDB oracle compare,
    // untimed: inside a "check" span that the pass time leaves out
    val results = new File(a("out"), "results")
    val dumpErrors = mutable.LinkedHashMap.empty[String, String]

    def one(q: graft.GraftQuery, dump: Boolean): (Map[String, Any], Double) = {
      var checkS = 0.0
      val rec =
        try {
          var build = 0.0
          val (df, total) = tr.span("query", q.name) {
            val (df, b) = tr.span("build", q.name)(q.run(spark, sf))
            build = b
            tr.span("action", q.name)(df.write.format("noop").mode("overwrite").save())
            df
          }
          if (dump) checkS = tr.span("check", q.name) {
            try df.coalesce(1).write.mode("overwrite").parquet(new File(results, q.name).getPath)
            catch { case e: Throwable => dumpErrors(q.name) = describe(e) }
          }._2
          Map("name" -> q.name, "ok" -> true, "build_s" -> build, "total_s" -> total)
        } catch {
          case e: Throwable =>
            if (dump) dumpErrors(q.name) = describe(e)
            Map("name" -> q.name, "ok" -> false, "error" -> describe(e))
        } finally clear()
      (rec, checkS)
    }

    val passes = Passes.run(a, tr) { i =>
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(qs)
      val (ops, wall) = tr.span("pass", s"pass-$i")(order.map(one(_, dump = i == 0)))
      Map("wall_s" -> (wall - ops.map(_._2).sum), "ops" -> ops.map(_._1))
    }

    // untimed: the Tables layer called directly, three loads per table
    if (tr.enabled) for (t <- Tables.star; _ <- 1 to 3) tr.span("tables.load", t)(Tables.load(spark, sf, t))

    Map("passes" -> passes, "dump_errors" -> dumpErrors.toMap)
  }

  /** Writes the DuckDB oracle SQL of the named queries to oracle_sql.json. */
  def oracles(a: Map[String, String], out: File): Unit = {
    val wanted = a("queries").split(",").toSet
    val sql = SparkEntry.registry.filter(q => wanted(q.name)).flatMap(q => q.oracle.map(q.name -> _)).toMap
    Files.writeString(new File(out, "oracle_sql.json").toPath, Json(sql), StandardCharsets.UTF_8)
  }

  def describe(e: Throwable): String = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    s"${e.getClass.getName}: ${e.getMessage} (root: ${root.getClass.getName}: ${root.getMessage})"
  }
}

/** `listings`: the paper's pipeline on a generated raw scrape. Each pass is
  * ETL (`Sources.readRawCsv` → `CleanPipeline.run` → the `EtlMain` writes)
  * then EDA (`AnalyticsMain`'s datasets and `Charts.renderAll`); after the
  * passes `DashboardServer` serves the last pass's clean output to the
  * load generator: its warm-up until it writes `measure` on stdin, then
  * its scheduled page views until it writes `done`. */
object Listings {
  /** `AnalyticsMain`'s datasets: (name, full table, filtered cached table). */
  val datasets: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "summary" -> ((_, df) => ListingQueries.summaryKpis(df)),
    "filters_states" -> ((base, _) => ListingQueries.filterValues(base, "state")),
    "filters_keywords" -> ((base, _) => ListingQueries.filterValues(base, "search_keyword")),
    "top_cities" -> ((_, df) => ListingQueries.valueCountsTopN(df, "city", 12)),
    "top_states" -> ((_, df) => ListingQueries.valueCountsTopN(df, "state", 12)),
    "price_buckets" -> ((_, df) => ListingQueries.priceBuckets(df)),
    "price_hist" -> ((_, df) => ListingQueries.priceHist(df)),
    "scatter_rating_price" -> ((_, df) => ListingQueries.scatterRatingPrice(df)),
    "mini_rows" -> ((_, df) => ListingQueries.miniRows(df, 8)),
    "avg_price_by_keyword" -> ((_, df) => ListingQueries.avgPriceByKeyword(df)),
    "keyword_share" -> ((_, df) => ListingQueries.keywordShareTopOthers(df)),
    "combo_listings_avg" -> ((_, df) => ListingQueries.comboListingsAvgPrice(df)),
    "waterfall_top10" -> ((_, df) => ListingQueries.waterfallTopPrices(df)),
    "missing_price_by_keyword" -> ((_, df) => ListingQueries.missingPriceByKeyword(df)),
    "unknown_location_share" -> ((_, df) => ListingQueries.unknownLocationShare(df)),
    "top_product_tokens" -> ((_, df) => ListingQueries.topProductTokens(df)),
    "outliers_top_prices" -> ((_, df) => ListingQueries.outliersTopPrices(df)),
    "eda_summary" -> ((_, df) => ListingQueries.edaSummary(df)),
    "rating_price_corr" -> ((_, df) => ListingQueries.ratingPriceCorr(df)))

  val endpoints: Seq[String] = Seq("filters", "summary", "top-cities", "top-states",
    "price-buckets", "price-hist", "scatter-rating-price", "mini-rows")

  def run(spark: SparkSession, a: Map[String, String], tr: Tracer): Map[String, Any] = {
    val raw = a("raw")
    val root = new File(a("out"), "listings")

    val passes = Passes.run(a, tr) { i =>
      val dir = new File(root, s"pass-$i").getAbsolutePath
      val ((etlS, edaS), wall) = tr.span("pass", s"pass-$i") {
        val (_, etlS) = tr.span("etl", "etl") {
          val (r, _) = tr.span("etl.build", "CleanPipeline.run") {
            CleanPipeline.run(Sources.readRawCsv(spark, raw))
          }
          tr.span("etl.write", "writes") {
            r.clean.write.mode("overwrite").parquet(s"$dir/clean.parquet")
            r.clean.coalesce(1).write.mode("overwrite")
              .option("header", "true").option("nullValue", "NaN").csv(s"$dir/clean_csv")
            r.issues.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/issues_csv")
            r.profile.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/profile_csv")
          }
          spark.catalog.clearCache()
        }
        val (_, edaS) = tr.span("eda", "eda") {
          val base = spark.read.parquet(s"$dir/clean.parquet")
          val df = base.cache()
          tr.span("eda.datasets", "ListingQueries")(datasets.foreach { case (_, f) => f(base, df).collect() })
          tr.span("eda.render", "Charts.renderAll")(Charts.renderAll(df, s"$dir/charts"))
          df.unpersist()
        }
        (etlS, edaS)
      }
      Map("wall_s" -> wall, "etl_s" -> etlS, "eda_s" -> edaS, "dir" -> dir)
    }
    val last = passes.last("dir").toString

    // untimed: ETL outputs against the generator's injected truth
    import org.apache.spark.sql.functions.col
    val issues = spark.read.option("header", "true").csv(s"$last/issues_csv")
      .groupBy(col("issue")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith(".")).map(bytes).sum
      else f.length
    val etlCheck = Map(
      "rows_in" -> Sources.readRawCsv(spark, raw).count(),
      "rows_clean" -> spark.read.parquet(s"$last/clean.parquet").count(),
      "issues" -> issues,
      "out_bytes" -> Seq("clean.parquet", "clean_csv", "issues_csv", "profile_csv")
        .map(d => bytes(new File(last, d))).sum,
      "raw_bytes" -> new File(raw).length)

    // the dashboard phase: serve until the load generator is done
    val served = spark.read.parquet(s"$last/clean.parquet")
    val (server, startS) = tr.span("serve.start", "DashboardServer.start")(DashboardServer.start(served))
    Harness.say(s"serving ${server.port} $startS")
    // the load generator's warm-up ends with "measure", its scheduled page
    // views with "done"
    tr.span("serve.warm", "dashboard")(scala.io.StdIn.readLine())
    tr.span("serve", "dashboard")(scala.io.StdIn.readLine())

    // untimed: every (endpoint, filter) the load used, computed directly
    val filters = Files.readAllLines(new File(a("filters")).toPath).toArray.toSeq.map { l =>
      val Array(s, k) = l.toString.split("\t", -1)
      Filters(Option(s).filter(_.nonEmpty), Option(k).filter(_.nonEmpty))
    }
    // on four threads, as the server computes them; /api/filters/ ignores
    // the filter, so it is computed once, for the empty filter
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val direct = (for (f <- filters; ep <- endpoints if ep != "filters" || f == Filters()) yield
      pool.submit(new java.util.concurrent.Callable[Map[String, Any]] {
        def call(): Map[String, Any] = {
          val t = System.nanoTime()
          val json = Direct(served, ep, f)
          Map("endpoint" -> ep, "state" -> f.state.getOrElse(""), "keyword" -> f.keyword.getOrElse(""),
            "json" -> json, "ms" -> (System.nanoTime() - t) / 1e6)
        }
      })).map(_.get())
    pool.shutdown()
    server.stop()
    Map("passes" -> passes, "etl_check" -> etlCheck, "server_start_s" -> startS, "direct" -> direct)
  }
}

/** The dashboard's eight JSON payloads computed through `ListingQueries`
  * without HTTP, shaped as `DashboardServer` shapes them. */
object Direct {
  def apply(df: DataFrame, endpoint: String, f: Filters): String = {
    val d = ListingQueries.applyFilters(df, f)
    def labelsValues(rows: Array[Row]) = Map(
      "labels" -> rows.map(_.getString(0)).toSeq, "values" -> rows.map(_.getLong(1)).toSeq)
    val payload: Map[String, Any] = endpoint match {
      case "filters" => Map(
        "states" -> ListingQueries.filterValues(df, "state").collect().map(_.getString(0)).toSeq,
        "keywords" -> ListingQueries.filterValues(df, "search_keyword").collect().map(_.getString(0)).toSeq)
      case "summary" =>
        val r = ListingQueries.summaryKpis(d).collect()(0)
        Map("total_rows" -> r.getLong(0), "unique_suppliers" -> r.getLong(1),
          "unique_cities" -> r.getLong(2), "unique_states" -> r.getLong(3),
          "median_price" -> r.getDouble(4), "avg_price" -> r.getDouble(5))
      case "top-cities" => labelsValues(ListingQueries.valueCountsTopN(d, "city", 12).collect())
      case "top-states" => labelsValues(ListingQueries.valueCountsTopN(d, "state", 12).collect())
      case "price-buckets" => labelsValues(ListingQueries.priceBuckets(d).collect())
      case "price-hist" =>
        val rows = ListingQueries.priceHist(d).collect()
        Map("bins" -> rows.map(_.getAs[String]("bin")).toSeq,
          "counts" -> rows.map(_.getAs[Long]("count")).toSeq)
      case "scatter-rating-price" =>
        Map("points" -> ListingQueries.scatterRatingPrice(d).collect()
          .map(r => Map("x" -> r.getDouble(0), "y" -> r.getDouble(1))).toSeq)
      case "mini-rows" =>
        Map("rows" -> ListingQueries.miniRows(d, 8).collect().map { r =>
          def s(c: String) = Option(r.getAs[String](c)).getOrElse("")
          Map("product_name" -> s("product_name"), "supplier_name" -> s("supplier_name"),
            "city" -> s("city"), "price_numeric" -> r.getAs[Any]("price_numeric"))
        }.toSeq)
    }
    Json(payload)
  }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null                           => "null"
    case s: String                      => quote(s)
    case b: Boolean                     => b.toString
    case i: Int                         => i.toString
    case l: Long                        => l.toString
    case d: Double                      => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _]  =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]                 => s.map(apply).mkString("[", ",", "]")
    case o                              => quote(o.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.prepended('"').appended('"')
}
