package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `SparkEntry.tbl` infers a table file's schema once per JVM: a repeat
  * read runs no Spark job, reads with the schema a fresh inference gives,
  * plans as the plain read does, and infers again when the file or a
  * Parquet conf changes. */
class TblSchemaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Writes `df` as ONE parquet file `<dir>/<name>.parquet`, the shape of
    * the input tables (Spark itself writes a directory of part files). */
  private def writeTable(dir: Path, name: String, df: DataFrame): Path = {
    val out = TestSpark.scratchDir("tbl-schema-out").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `<dir>/<name>.parquet` written by plain parquet-mr, like the input
    * tables: no Spark schema in the footer (Spark's own files carry one,
    * and it overrides the read confs). `ts` is TIMESTAMP(MICROS) not
    * adjusted to UTC. */
  private def writeRawTable(dir: Path, name: String): Unit = {
    val schema = MessageTypeParser.parseMessageType("message t { " +
      "required int64 k; required int64 ts (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter
      .builder(new LocalOutputFile(dir.resolve(s"$name.parquet")))
      .withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(k =>
      w.write(rows.newGroup().append("k", k).append("ts", k * 1000000L)))
    finally w.close()
  }

  private def masked(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode).replaceAll("#\\d+", "#")

  test("first tbl infers; a repeat runs no job and plans as a plain read") {
    val dir = TestSpark.scratchDir("tbl-schema")
    writeRawTable(dir, "raw")
    writeTable(dir, "spark",
      Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("k", "s", "v"))
    Seq("raw", "spark").foreach { t =>
      val (first, inferJobs) =
        JobCount(spark)(SparkEntry.tbl(spark, dir.toString, t))
      assert(inferJobs >= 1, s"$t: a first sight infers with a job")
      val (df, jobs) = JobCount(spark)(SparkEntry.tbl(spark, dir.toString, t))
      assert(jobs == 0, s"$t: repeat tbl ran $jobs jobs")
      val plain = spark.read.parquet(s"$dir/$t.parquet")
      assert(df.schema == plain.schema, t)
      assert(masked(df) == masked(plain), t)
      assert(df.orderBy("k").collect().toSeq ==
        first.orderBy("k").collect().toSeq, t)
    }
  }

  test("flipping a Parquet conf infers again under the new conf") {
    val dir = TestSpark.scratchDir("tbl-schema")
    writeRawTable(dir, "raw")
    // TIMESTAMP_NTZ by default, a session-zone TIMESTAMP with NTZ
    // inference off
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assume(!spark.conf.getAll.contains(conf), "the default is under test")
    assert(SparkEntry.tbl(spark, dir.toString, "raw").schema("ts").dataType ==
      TimestampNTZType)
    try {
      spark.conf.set(conf, "false")
      val (df, jobs) =
        JobCount(spark)(SparkEntry.tbl(spark, dir.toString, "raw"))
      assert(jobs >= 1, "a flipped schema conf must infer again")
      assert(df.schema == spark.read.parquet(s"$dir/raw.parquet").schema)
      assert(df.schema("ts").dataType == TimestampType)
    } finally spark.conf.unset(conf)
    val (df, jobs) = JobCount(spark)(SparkEntry.tbl(spark, dir.toString, "raw"))
    assert(jobs == 0, "the default conf's schema is still cached")
    assert(df.schema("ts").dataType == TimestampNTZType)
  }

  test("overwriting the file with a different schema returns the new schema") {
    val dir = TestSpark.scratchDir("tbl-schema")
    writeTable(dir, "o", Seq(1L, 2L).toDF("k"))
    assert(SparkEntry.tbl(spark, dir.toString, "o").columns.toSeq == Seq("k"))
    writeTable(dir, "o", Seq((3L, "x")).toDF("k", "extra"))
    val df = SparkEntry.tbl(spark, dir.toString, "o")
    assert(df.schema == spark.read.parquet(s"$dir/o.parquet").schema)
    assert(df.columns.toSeq == Seq("k", "extra"))
    assert(df.as[(Long, String)].collect().toSeq == Seq((3L, "x")))
  }

  test("a directory-shaped dataset reads correctly") {
    val dir = TestSpark.scratchDir("tbl-schema")
    val rows = (1L to 100L).map(i => (i, s"v$i"))
    rows.toDF("k", "s").repartition(3).write
      .parquet(dir.resolve("d.parquet").toString)
    (1 to 2).foreach { _ =>
      val df = SparkEntry.tbl(spark, dir.toString, "d")
      assert(df.schema == spark.read.parquet(s"$dir/d.parquet").schema)
      assert(df.as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    }
  }
}
