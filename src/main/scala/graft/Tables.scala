package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's synthetic star schema (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Parquet scans get vectorized
  * reads + predicate pushdown + column pruning for free; at 100 TB the same
  * code path works because nothing here assumes a row count — partitioning
  * comes from the file layout and `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  /** Reads with the memoised [[schemaOf]] as a declared schema: an inferring
    * parquet read launches one footer-reading Spark job per call. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** A single file's schema is memoised by its qualified path, modification
    * time and length, and the session's explicitly set parquet confs (the
    * inferred types depend on them: `nanosAsLong` turns nanos timestamps into
    * LongType, `binaryAsString` binaries into StringType). A directory's
    * mtime does not change when a file inside it is rewritten, so
    * directories and globs are inferred on every call. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer(): StructType = spark.read.parquet(path).schema
    singleFile(spark, path).fold(infer()) { st =>
      val key = SchemaKey(st.getPath.toString, st.getModificationTime, st.getLen,
        spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        })
      Option(schemas.get(key)).getOrElse {
        val s = infer()
        schemas.put(key, s)
        s
      }
    }
  }

  private final case class SchemaKey(path: String, modTime: Long, length: Long,
      parquetConfs: Map[String, String])
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private def singleFile(spark: SparkSession, path: String): Option[FileStatus] =
    if (path.exists("*?[{\\".contains(_))) None
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    }

  def region(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  /** events.ts has shipped as TWO parquet physical layouts across data
    * generations: TIMESTAMP(NANOS) (which Spark only reads as a long under
    * the legacy conf) and plain TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (which Spark reads as TIMESTAMP_NTZ); [[normalizeTs]] maps both. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, sfDir, "events"))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Normalizes an events frame's `ts`, batch or streaming, to session-zoned
    * TimestampType so every downstream query and oracle sees one shape:
    * - nanos-long → exact integer DIV to µs (a double division would lose
    *   precision at 1.7e18 ns), then timestamp_micros;
    * - NTZ → cast to TimestampType (identical instants under the UTC
    *   session zone every entry point pins). */
  def normalizeTs(events: DataFrame): DataFrame = events.schema("ts").dataType match {
    case LongType         => events.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    case TimestampNTZType => events.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => events
    case other => throw new IllegalStateException(
      s"events.ts arrived as unsupported type $other — expected nanos long, TIMESTAMP_NTZ, or TIMESTAMP")
  }

  /** Register every table as a temp view so the FULL engine surface is
    * reachable through `spark.sql(...)` — together with the
    * GraftExtensions function registrations this is the SQL entry point:
    * `registerAll(spark, dir); spark.sql("SELECT graft_simhash(...) FROM
    * documents")`. Uses the type-corrected loaders (events gets the exact
    * nanos→micros conversion, not the raw nanos long). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { name =>
      val df = name match {
        case "events" => events(spark, sfDir)
        case other    => load(spark, sfDir, other)
      }
      df.createOrReplaceTempView(name)
    }
}
