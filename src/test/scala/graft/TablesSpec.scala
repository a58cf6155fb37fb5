package graft

import java.nio.file.{Files, Path => JPath}
import java.time.Instant
import java.util.Comparator

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** The scan seam's schema contract: a table's schema is inferred once per
  * (session, path, file listing) and later loads run no Spark job; a table
  * rewritten at the same path is re-inferred; `events.ts` normalization
  * still holds for both parquet encodings. The split contract:
  * `Tables.oneSplit` is true only for narrow operators over one small
  * parquet file, and decides without a Spark job. Fixtures are written
  * here. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val root: JPath = Files.createTempDirectory("graft-tables-spec")

  override def afterAll(): Unit = {
    Files.walk(root).sorted(Comparator.reverseOrder[JPath]())
      .forEach(p => Files.delete(p))
    super.afterAll()
  }

  /** Spark jobs started while `body` runs. The bus delivers events in
    * order, so once a marker job's start is seen every earlier start has
    * been counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    @volatile var starts = 0
    @volatile var markerSeen = false
    val marker = "tables-spec-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == marker)) markerSeen = true
        else starts += 1
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener never saw the marker job")
      (out, starts)
    } finally sc.removeSparkListener(listener)
  }

  test("a second load of a table runs no Spark job and keeps the inferred schema") {
    import spark.implicits._
    val dir = root.resolve("once").toString
    Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "name", "score")
      .write.parquet(s"$dir/t.parquet")
    val inferred = spark.read.parquet(s"$dir/t.parquet").schema
    val (_, firstJobs) = jobsDuring(Tables.load(spark, dir, "t").schema)
    assert(firstJobs >= 1, "the first load should infer the schema in a job")
    val (schema, jobs) = jobsDuring(Tables.load(spark, dir, "t").schema)
    assert(jobs == 0, s"a second load ran $jobs Spark jobs")
    assert(schema == inferred)
    assert(Tables.load(spark, dir, "t").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "a", 2.5), Row(2L, "b", 3.5)))
  }

  test("a table overwritten at the same path with a new schema is re-inferred") {
    import spark.implicits._
    val dir = root.resolve("rewrite").toString
    Seq((1, "x")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Tables.load(spark, dir, "t") // served by the resolved schema
    Seq((7.5, 8L, true)).toDF("w", "n", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.columns.toSeq == Seq("w", "n", "flag"))
    assert(df.collect().toSeq == Seq(Row(7.5, 8L, true)))
  }

  test("events.ts is TimestampType with the same values for nanos and timestamp_ntz parquet") {
    // pre-epoch and sub-microsecond nanos: normalization floors to the µs
    val nanos = Seq(1700000000123456789L, 0L, -1L, -1500L)
    val micros = nanos.map(n => Math.floorDiv(n, 1000L))

    val nanosDir = root.resolve("nanos").toString
    val msg = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$nanosDir/events.parquet/part-0.parquet"))
      .withType(msg).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(msg)
    try nanos.zipWithIndex.foreach { case (n, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", n))
    } finally writer.close()
    assert(spark.read.parquet(s"$nanosDir/events.parquet").schema("ts").dataType ==
      LongType, "nanos fixture should arrive as LongType under nanosAsLong")

    val ntzDir = root.resolve("ntz").toString
    val ntzSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType)))
    val ntzRows = micros.zipWithIndex.map { case (m, i) =>
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(m, 1000000L), (Math.floorMod(m, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(ntzRows, 1), ntzSchema)
      .write.parquet(s"$ntzDir/events.parquet")

    val expected = micros.map(m =>
      Instant.EPOCH.plusSeconds(Math.floorDiv(m, 1000000L))
        .plusNanos(Math.floorMod(m, 1000000L) * 1000L))
    def tsOf(dir: String): Seq[Instant] = {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, s"$dir: ${ev.schema}")
      ev.orderBy("event_id").collect().toSeq.map(_.getAs[java.sql.Timestamp]("ts").toInstant)
    }
    // twice each: the second read goes through the resolved schema
    Seq(nanosDir, ntzDir).foreach { dir =>
      assert(tsOf(dir) == expected, s"$dir: first load")
      assert(tsOf(dir) == expected, s"$dir: second load")
    }
  }

  /** A 200-row `(doc_id, text)` table written as one parquet file, and
    * the directory holding it. */
  private lazy val oneFileDir: String = {
    import spark.implicits._
    val dir = root.resolve("one-file").toString
    (1L to 200L).map(i => (i, s"text of document $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/docs.parquet")
    dir
  }

  test("oneSplit: narrow operators over one small parquet file, decided without a Spark job") {
    import org.apache.spark.sql.functions.{col, length}
    val docs = Tables.load(spark, oneFileDir, "docs")
    val narrow = docs.filter(length(col("text")) > 0).select(col("doc_id"), col("text"))
    assert(Tables.oneSplit(docs), "a one-file table is one split")
    val (one, jobs) = jobsDuring(Tables.oneSplit(narrow))
    assert(one, "a filter and a project keep the one split")
    assert(jobs == 0, s"oneSplit ran $jobs Spark jobs")
    // the planner agrees: one scan partition
    assert(narrow.rdd.getNumPartitions == 1)
  }

  test("oneSplit is false for two files, a file above the split bound, local rows, joins and aggregates") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val docs = Tables.load(spark, oneFileDir, "docs")

    val dir = root.resolve("two-files").toString
    docs.repartition(2).write.parquet(s"$dir/docs.parquet")
    val two = Tables.load(spark, dir, "docs")
    assert(two.inputFiles.length == 2)
    assert(!Tables.oneSplit(two), "the same rows as 2 files are not one split")

    val size = Files.list(root.resolve("one-file/docs.parquet"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum
    Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes").foreach { k =>
      val scoped = spark.newSession()
      scoped.conf.set(k, (size - 1).toString)
      assert(!Tables.oneSplit(Tables.load(scoped, oneFileDir, "docs")),
        s"a ${size}-byte file is not provably one split under $k = ${size - 1}")
      scoped.conf.set(k, size.toString)
      assert(Tables.oneSplit(Tables.load(scoped, oneFileDir, "docs")), s"$k = $size")
    }

    import spark.implicits._
    assert(!Tables.oneSplit(Seq((1L, "a")).toDF("doc_id", "text")),
      "a createDataFrame fixture has no file index")
    val other = docs.select(col("doc_id").as("id"))
    assert(Tables.oneSplit(other))
    assert(!Tables.oneSplit(docs.join(other, col("doc_id") === col("id"))),
      "a join is not narrow")
    assert(!Tables.oneSplit(docs.groupBy(col("doc_id")).agg(count(lit(1)))),
      "an aggregate is not narrow")
  }
}
