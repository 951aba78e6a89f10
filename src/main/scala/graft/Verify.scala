package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare, and failures.json:
  * every query that threw, with its cause (`[]` if none). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.defaultCpus)
    new java.io.File(outDir).mkdirs()
    // comma-separated name filter for fast local iteration (same contract
    // as Bench's SPARK_GRAFT_ONLY); unset = the full driver-run surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would otherwise select NOTHING and the oracle check
    // would pass vacuously ("0 fail of 0") — fail loudly instead
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(", ")}")
    }
    def selected(name: String) = only.forall(_.contains(name))
    val failures = SparkEntry.queries.filter(kv => selected(kv._1)).toSeq.flatMap { case (name, fn) =>
      val failure =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          val f = QueryFailure(name, e)
          System.err.println(s"[verify] ${f.line}")
          Some(f)
        }
      Sessions.reset(spark) // operators cache sketches per query
      failure
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a query whose write failed leaves any earlier run's parquet in place;
    // this manifest is what tells the oracle compare that it is stale
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures.map { f =>
      s"""{"query": ${q(f.query)}, "exception": ${q(f.exception)}, "message": ${q(f.message)}, "root_cause": ${q(f.rootCause)}}"""
    }.mkString("[", ",\n", "]"))
    spark.stop()
  }
}
