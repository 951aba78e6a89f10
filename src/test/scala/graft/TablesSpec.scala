package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftshim.JobSites
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.load` reads with a memoised, declared schema: a repeated load
  * launches no schema-inference job, reads what an inferring read reads,
  * and still sees a rewritten file and a changed parquet conf. */
class TablesSpec extends SparkSpec {
  private val Dir = "/root/testdata/sf0.001"

  private def atTables(sites: Seq[String]) = sites.filter(_.contains(" at Tables.scala:"))

  /** One parquet file with one row, written without Spark's schema footer
    * metadata, so Spark infers its schema from the parquet types and confs. */
  private def writeFile(path: String, schema: String)(fill: Group => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withConf(new Configuration())
      .withType(t).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try {
      val g = new SimpleGroupFactory(t).newGroup()
      fill(g)
      w.write(g)
    } finally w.close()
  }

  test("a second load of every table launches no Spark job at Tables.scala") {
    Tables.all.foreach(Tables.load(spark, Dir, _))
    val sites = JobSites.of(spark.sparkContext)(Tables.all.foreach(Tables.load(spark, Dir, _)))
    assert(atTables(sites).isEmpty, s"second loads launched jobs: $sites")
  }

  test("building q_tpch_q3 a second time launches no job at Tables.scala") {
    val q = SparkEntry.registry.find(_.name == "q_tpch_q3").get
    try {
      q.run(spark, Dir)
      val sites = JobSites.of(spark.sparkContext)(q.run(spark, Dir))
      assert(atTables(sites).isEmpty, s"second build inferred schemas: $sites")
    } finally Sessions.reset(spark)
  }

  test("the declared-schema read equals the inferring read for every table") {
    Tables.all.foreach { name =>
      val declared = Tables.load(spark, Dir, name)
      val inferred = spark.read.parquet(s"$Dir/$name.parquet")
      assert(declared.schema === inferred.schema, name)
      assert(declared.collect().toSeq.sortBy(_.toString) ===
        inferred.collect().toSeq.sortBy(_.toString), name)
    }
  }

  test("a rewritten file is inferred again and its new schema comes back") {
    val dir = Files.createTempDirectory("tables_rewrite").toString
    val path = s"$dir/t.parquet"
    writeFile(path, "message m { required int64 a; }")(_.add("a", 7L))
    val first = JobSites.of(spark.sparkContext) {
      assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    }
    assert(atTables(first).size === 1, s"first load: $first")
    assert(atTables(JobSites.of(spark.sparkContext)(Tables.load(spark, dir, "t"))).isEmpty)

    writeFile(path, "message m { required int32 b; required binary c (UTF8); }") { g =>
      g.add("b", 3); g.add("c", "x")
    }
    val rewritten = JobSites.of(spark.sparkContext) {
      val df = Tables.load(spark, dir, "t")
      assert(df.schema.fieldNames.toSeq === Seq("b", "c"))
      assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((3, "x")))
    }
    assert(atTables(rewritten).size === 1, s"load after rewrite: $rewritten")
  }

  test("a changed parquet conf gives each load its own schema") {
    val dir = Files.createTempDirectory("tables_conf").toString
    writeFile(s"$dir/b.parquet", "message m { required binary payload; }")(_.add("payload", "hi"))
    def payloadType = Tables.load(spark, dir, "b").schema("payload").dataType
    val key = "spark.sql.parquet.binaryAsString"
    try {
      assert(payloadType === BinaryType)
      spark.conf.set(key, "true")
      assert(payloadType === StringType)
      assert(Tables.load(spark, dir, "b").collect().map(_.getString(0)).toSeq === Seq("hi"))
      spark.conf.unset(key)
      assert(payloadType === BinaryType)
    } finally spark.conf.unset(key)
  }
}
