package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.read` infers a parquet schema once per session and file
  * identity: the same schema and rows as a plain `read.parquet`, no
  * Spark job on a repeated read, and a fresh inference when the file or
  * a parquet setting changes. */
class TableReadSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  // the sf0.01 tables vendored with the benchmark (paths relative to the
  // build root, the forked test JVM's working directory)
  private val dir = "perfbench/data/sf0.01"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  private def tempDir(): String = {
    val d = Files.createTempDirectory("graft_tables")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("all ten sf0.01 tables: the same schema and rows as a plain read") {
    def counted(rows: Array[Row]) = rows.groupBy(identity).view.mapValues(_.length).toMap
    tables.foreach { name =>
      val path = s"$dir/$name.parquet"
      val plain = spark.read.parquet(path)
      Tables.read(spark, path)
      val kept = Tables.read(spark, path)
      assert(kept.schema == plain.schema, s"$name: schema")
      assert(counted(kept.collect()) == counted(plain.collect()), s"$name: rows")
    }
  }

  test("a repeated read runs no Spark job; a plain read runs one") {
    val path = s"$dir/documents.parquet"
    Tables.read(spark, path)
    assert(SparkTestSession.jobsOf(Tables.read(spark, path)) == 0)
    assert(SparkTestSession.jobsOf(spark.read.parquet(path)) >= 1,
      "the listener must see the inference job")
  }

  test("a table rewritten at the same path with another schema is inferred again") {
    import spark.implicits._
    val base = tempDir()
    val table = s"$base/t"
    Seq((1, 2L)).toDF("a", "b").write.mode("overwrite").parquet(table)
    assert(Tables.read(spark, table).columns.toSeq == Seq("a", "b"))
    Seq("x").toDF("c").write.mode("overwrite").parquet(table)
    val again = Tables.read(spark, table)
    assert(again.columns.toSeq == Seq("c"))
    assert(again.as[String].collect().toSeq == Seq("x"))

    // a single file overwritten in place
    def part(d: String) = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    val file = new java.io.File(base, "f.parquet").toPath
    Files.copy(part(table), file)
    assert(Tables.read(spark, file.toString).columns.toSeq == Seq("c"))
    Seq((1, 2L)).toDF("a", "b").write.mode("overwrite").parquet(table)
    Files.copy(part(table), file, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.read(spark, file.toString).columns.toSeq == Seq("a", "b"))
  }

  test("flipping spark.sql.parquet.binaryAsString infers the binary column again") {
    import spark.implicits._
    // written without Spark's schema in the footer, which Spark would
    // prefer over the setting: a plain parquet BINARY column
    val table = s"${tempDir()}/bin.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(table), conf))
      .withType(schema).withConf(conf).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    assert(Tables.read(spark, table).schema("b").dataType == BinaryType)
    try {
      spark.conf.set(key, "true")
      val asString = Tables.read(spark, table)
      assert(asString.schema("b").dataType == StringType)
      assert(asString.as[String].collect().toSeq == Seq("hi"))
    } finally spark.conf.unset(key)
    assert(Tables.read(spark, table).schema("b").dataType == BinaryType)
  }
}
