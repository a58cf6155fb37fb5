package graft.io

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (`TESTDATA.md`).
  *
  * All operators go through this object so the scan layer is one seam: on a
  * real cluster the same names would resolve to catalog tables (bucketed /
  * partitioned), while here they are plain parquet directories. Keeping the
  * reads declarative (`spark.read.parquet`) means Catalyst retains predicate
  * pushdown, column pruning, and partition pruning on every query built on
  * top — nothing below this point materializes data eagerly.
  *
  * Schema contract: like a catalog, the seam resolves each table's schema
  * once and keeps it as metadata. A bare `spark.read.parquet` infers the
  * schema from the parquet footers in a one-task Spark job on every call;
  * [[load]] runs that inference once per (session, table path, stamp), and
  * every later load reads with the resolved `StructType`, which skips both
  * the footer read and its job. The stamp is the sorted (path, length,
  * modification time) of every file under the table path plus the session's
  * parquet confs (`nanosAsLong`, `binaryAsString`, ...), so a table
  * rewritten at the same path, or a conf that changes what inference
  * returns, is re-inferred. Only `StructType`s are kept, in a map weakly
  * keyed by the session: no DataFrame, plan, file index or row outlives the
  * call that built it.
  *
  * Split contract: [[oneSplit]] tells an operator, from the file index the
  * load already listed, whether a frame over one table scans as a single
  * split — no Spark job, optimizer or planner run — so it can skip an
  * exchange that would only re-partition one task's input.
  *
  * Reads that bypass the seam, on purpose:
  *  - `rds_decimal_stored` re-reads the table it has just written with plain
  *    inference, because the lane asserts the type parquet stored;
  *  - `ScaleUp` reads each source table once to rewrite it, so a resolved
  *    schema would never be reused.
  *
  * Dimension tables (`region` 5 rows, `nation` 25 rows) are broadcast at the
  * join sites, not here, so the hint sits next to the join that needs it.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = stampOf(spark, path)
    schemas.synchronized(Option(schemas.get(spark)).flatMap(_.get(path))) match {
      case Some((known, schema)) if stamp.contains(known) =>
        spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path) // a missing path: Spark's PATH_NOT_FOUND
        stamp.foreach(s => schemas.synchronized {
          schemas.computeIfAbsent(spark, _ => mutable.Map.empty)(path) = (s, df.schema)
        })
        df
    }
  }

  /** True only when `df` provably scans as ONE split at any session width:
    * its analyzed plan is projects and filters over one file-source
    * relation (the seam's parquet reads; no bucketing) holding exactly one
    * file of at most
    * `min(spark.sql.files.openCostInBytes, spark.sql.files.maxPartitionBytes)`
    * bytes. Spark's split size is never below that bound, so such a file
    * is one scan partition, and the narrow operators above keep it one.
    * Reads only the relation's file index (listed when the frame was
    * built): no job, no optimizer run, no physical planning. Anything else
    * — a join, an aggregate, a local or RDD relation — is `false`. */
  def oneSplit(df: DataFrame): Boolean = {
    val conf = df.queryExecution.sparkSession.sessionState.conf
    val limit = math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
    @tailrec def scan(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => scan(child)
      case Filter(_, child) => scan(child)
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          fs.bucketSpec.isEmpty && fs.location.inputFiles.length == 1 &&
            fs.location.sizeInBytes <= limit
        case _ => false
      }
      case _ => false
    }
    scan(df.queryExecution.analyzed)
  }

  private type Stamp = (Seq[(String, String)], Seq[(String, Long, Long)])

  /** Resolved schemas by session, then table path. Weak keys: a stopped or
    * dropped session takes its entries with it. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, (Stamp, StructType)]]

  /** The session's set parquet confs (every conf parquet inference reads
    * that can differ from its default) and the file listing under `path`;
    * `None` when the path does not exist. */
  private def stampOf(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
      }
      Some((confs.sorted, files.result().sorted))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Normalizes `events.ts` to a plain `TimestampType` event-time column no
    * matter which parquet encoding a given testdata generation used, so every
    * downstream operator (`unix_micros`, window frames, watermarks) sees one
    * uniform type:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]); Sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` so it arrives as
    *    nanos-since-epoch LongType. Integer arithmetic (not `/`, which is
    *    double and loses precision above 2^53) keeps the truncation exact,
    *    and the `pmod` adjustment makes it a true FLOOR division so pre-epoch
    *    (negative) nanos round down to the earlier microsecond.
    *  - timestamp[us] without isAdjustedToUTC: Spark reads TIMESTAMP_NTZ.
    *    The session timezone is pinned UTC ([[graft.Sessions]]), so casting
    *    to TimestampType reinterprets the same wall-clock micros as the same
    *    UTC instant — bit-identical to what DuckDB (naive-UTC) computes on
    *    the same file, keeping the oracles aligned.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
