package graft

import graft.sources.Tables
import graft.stats.Measure
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** `Tables.table`'s schema memo: a known file version is read with its
  * memoized schema (no inference job); a rewritten file, or a changed
  * inference conf, is inferred again. */
class SchemaMemoSpec extends SparkSpec {

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_schema_memo").toString

  /** Write `df` as ONE parquet file `$dir/$name.parquet`, the driver
    * testdata layout; a rewrite replaces the file (new inode). */
  private def writeTable(df: DataFrame, name: String): java.io.File = {
    val staging = s"$dir/$name.staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val file = new java.io.File(s"$dir/$name.parquet")
    java.nio.file.Files.move(part.toPath, file.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Tables.deleteRecursive(staging)
    file
  }

  private def jobsOf[A](body: => A): (A, Int) = {
    val (a, st) = Measure.measured(spark)(body)
    (a, st.jobs)
  }

  test("a known file version is read with no job; a rewritten one shows its new column") {
    val file = writeTable(spark.range(100).select(col("id"), (col("id") * 2).as("v")), "memo_t")
    Tables.table(spark, dir, "memo_t")
    val (df, jobs) = jobsOf(Tables.table(spark, dir, "memo_t"))
    assert(jobs == 0, "a second read of the same file version must not infer its schema")
    assert(df.schema == spark.read.parquet(file.getPath).schema)
    assert(df.count() == 100)

    val before = file.length()
    writeTable(spark.range(100).select(col("id"), (col("id") * 2).as("v"),
      concat(lit("row-"), col("id").cast("string")).as("extra")), "memo_t")
    assert(file.length() != before)
    val again = Tables.table(spark, dir, "memo_t")
    assert(again.columns.toSeq == Seq("id", "v", "extra"))
    assert(again.filter(col("extra") === "row-7").count() == 1)
    assert(Tables.schemaOf(spark, dir, "memo_t") == spark.read.parquet(file.getPath).schema)
  }

  test("a changed inference conf gets its own memo entry") {
    // a Spark-written file stores its Spark schema, which inference
    // prefers over the conf; the driver testdata comes from other
    // writers, so write a plain un-annotated BINARY column the same way
    val parquetSchema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required int64 id; optional binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/memo_bin.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(parquetSchema).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(parquetSchema)
    try (0 until 10).foreach(i => w.write(groups.newGroup().append("id", i.toLong).append("b", i.toString)))
    finally w.close()
    def bType = Tables.table(spark, dir, "memo_bin").schema("b").dataType
    assert(bType == BinaryType)
    Graft.withConfs(spark, "spark.sql.parquet.binaryAsString" -> "true") {
      assert(bType == StringType)
      val (t, jobs) = jobsOf(bType)
      assert(t == StringType && jobs == 0)
      assert(Tables.table(spark, dir, "memo_bin").filter(col("b") === "3").count() == 1)
    }
    // the default-conf entry was kept beside the new one, not replaced
    val (t, jobs) = jobsOf(bType)
    assert(t == BinaryType && jobs == 0)
  }

  test("two threads reading a new file both get its schema") {
    writeTable(spark.range(50).select(col("id"), lit("x").as("s")), "memo_conc")
    val reads = Seq.fill(2)(Future(Tables.table(spark, dir, "memo_conc").schema))
    val schemas = Await.result(Future.sequence(reads), 2.minutes)
    assert(schemas.forall(_ == spark.read.parquet(s"$dir/memo_conc.parquet").schema))
  }

  test("a directory table is read without the memo") {
    spark.range(20).write.mode("overwrite").parquet(s"$dir/memo_dir.parquet")
    assert(Tables.table(spark, dir, "memo_dir").count() == 20)
    assert(Tables.schemaOf(spark, dir, "memo_dir").fieldNames.toSeq == Seq("id"))
  }
}
