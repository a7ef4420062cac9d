package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.Tables

/** S4/S5: dynamic-schema JSON ingestion — the schema must be the UNION over
  * all rows/files, fixing the reference's first-row-only inference
  * (reference clickhouse/helpers.py:166-169 silently drops keys that first
  * appear in later rows). Also the parquet session schema catalog: a hit
  * runs no job, and every change that would change inference misses.
  */
class TablesSpec extends SparkSpec {

  test("readJsonUnioned unions ragged schemas across rows and files") {
    val dir = java.nio.file.Files.createTempDirectory("ragged_json")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"id": 1, "early_key": "x"}
        |{"id": 2, "late_key": 7}""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"id": 3, "file2_only": true, "early_key": "y"}""")
    val df = Tables.readJsonUnioned(spark, dir.toString)
    assert(df.columns.sorted.toSeq ===
      Seq("early_key", "file2_only", "id", "late_key"))
    assert(df.count() === 3)
    // rows lacking a key read as null, not dropped
    assert(df.filter(df("late_key").isNotNull).count() === 1)
  }

  test("pinned schema overrides inference for streaming use") {
    val dir = java.nio.file.Files.createTempDirectory("pinned_json")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"id": 1, "extra": "dropped"}""")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val df = Tables.readJsonUnioned(spark, dir.toString, Some(schema))
    assert(df.columns.toSeq === Seq("id"))
  }

  // ------------------------------------------------ session schema catalog

  /** Runs `body` and counts the Spark jobs it started, draining the
    * listener bus before and after instead of sleeping. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftListenerBridge.waitUntilEmpty(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  test("a second read of an unchanged table runs no Spark job") {
    val path = tempDir("catalog_hit")
    spark.range(20).selectExpr("id", "cast(id as string) AS s").write.parquet(path)
    val (first, jobs1) = jobsDuring(Tables.parquet(spark, path))
    val (second, jobs2) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs1 === 1, "the first read infers the schema with one job")
    assert(jobs2 === 0, "the second read must be served by the catalog")
    assert(second.schema === first.schema)
    assert(second.schema === spark.read.parquet(path).schema)
    assert(second.count() === 20)
  }

  test("a single file rewritten with a different schema is re-inferred") {
    val path = tempDir("catalog_rewrite")
    val file = java.nio.file.Paths.get(path, "data.parquet")
    /** Writes `df` as the one file `data.parquet` of the table. */
    def writeOneFile(df: DataFrame): Unit = {
      val tmp = tempDir("catalog_rewrite_src")
      df.coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(file.getParent)
      java.nio.file.Files.copy(part, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeOneFile(spark.range(3).toDF("a"))
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("a"))
    writeOneFile(spark.range(3).selectExpr("cast(id as string) AS b", "id * 2 AS c"))
    val (df, jobs) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs === 1, "a changed footer file must be inferred again")
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.columns.toSeq === Seq("b", "c"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq === Seq("0", "1", "2"))
    // an emptied table is not served from the catalog: it fails like a
    // plain read does
    java.nio.file.Files.delete(file)
    intercept[AnalysisException](Tables.parquet(spark, path))
  }

  test("a partitioned store that gains a partition reads every partition") {
    val path = tempDir("catalog_append")
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(path)
    assert(Tables.parquet(spark, path).count() === 6)
    spark.range(6, 9).selectExpr("id", "2 AS p").write.mode("append").partitionBy("p")
      .parquet(path)
    // the first data file (under p=0) did not change: a catalog hit, and
    // the partitions still come from this read's own listing
    val (df, jobs) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs === 0)
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.columns.toSeq === Seq("id", "p"))
    assert(df.select("p").distinct().collect().map(_.getInt(0)).sorted.toSeq === Seq(0, 1, 2))
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ===
      (0L until 9L).map(i => (i, if (i < 6) (i % 2).toInt else 2)))
  }

  test("flipping legacy.parquet.nanosAsLong re-infers the schema") {
    val path = tempDir("catalog_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$path/data.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704067200000000000L))
    finally w.close()
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(conf)
    /** What a read shows under the current conf: its schema or its error. */
    def outcome(read: => DataFrame): Either[String, StructType] =
      try Right(read.schema) catch { case e: AnalysisException => Left(e.getClass.getName) }
    try {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(conf, v)
        val got = outcome(Tables.parquet(spark, path))
        assert(got === outcome(spark.read.parquet(path)), s"nanosAsLong=$v")
        got
      }
      assert(seen.head === Right(StructType(Seq(StructField("ts", LongType)))))
      assert(seen(1) !== seen.head, "the flipped conf must not be served the cached schema")
      assert(seen(2) === seen.head)
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("two sessions never share catalog entries") {
    val path = tempDir("catalog_sessions")
    spark.range(4).write.parquet(path)
    Tables.parquet(spark, path)
    val other = spark.newSession()
    // same parquet confs, so the two sessions would share a catalog key
    val parquetConfs = (sess: SparkSession) =>
      sess.conf.getAll.filter(_._1.contains(".parquet."))
    parquetConfs(spark).foreach { case (k, v) => other.conf.set(k, v) }
    assert(parquetConfs(other) === parquetConfs(spark))
    val (_, jobsOther) = jobsDuring(Tables.parquet(other, path))
    val (_, jobsAgain) = jobsDuring(Tables.parquet(other, path))
    assert(jobsOther === 1, "a new session must infer for itself")
    assert(jobsAgain === 0)
  }
}
