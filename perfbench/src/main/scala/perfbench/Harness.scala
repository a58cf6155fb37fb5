package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

import graft.{Caches, Sessions, SparkEntry}
import graft.io.Tables

/** One benchmark run in a fresh JVM: a closed loop with one client.
  *
  * The driver thread calls each lane of the workload back to back through
  * graft's public registry entry `SparkEntry.queries(lane)(spark, dir)`,
  * forcing each result with a `noop` write. Pass 0 is the cold pass (its
  * end is `setup_s`); timed passes follow, each in its own seeded lane
  * order, until `--seconds` have passed and at least `--min-passes` ran.
  * Then every lane's output is written once for the oracle check, which
  * `run.py` performs. With `--trace 1` the odd passes stay untraced and
  * the even ones attach the [[Tracer]], so the two can be compared within
  * one run; the layer timings of `graft.io.Tables` and the native
  * functions are taken after the passes.
  *
  * Raw samples go to `<out>/result.json`; all statistics are computed by
  * `run.py`.
  */
object Harness {
  private val Clock = new Clock

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("data")
    val out = a("out")
    val lanes = a("lanes").split(",").toSeq
    val seed = a("seed").toLong
    val trace = a.getOrElse("trace", "0") == "1"
    val workload = a("workload")

    val registry = SparkEntry.queries
    val unknown = lanes.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown lanes: ${unknown.mkString(", ")}")
    val rowsOnly = lanes.filterNot(SparkEntry.oracleSql.contains).toSet
    Files.createDirectories(Paths.get(out))

    val spark = Sessions.local(a("cores"))
    val sc = spark.sparkContext
    HeapWatch.install()

    /** Digest (row count, Σ xxhash64) of a rows-only lane, per pass. */
    val digests = ArrayBuffer.empty[Map[String, Any]]

    def runLane(lane: String, pass: Int, traced: Boolean): Map[String, Any] = {
      val id = s"$workload.$seed.$pass.$lane"
      val t0 = Clock.nowMs
      var tb = Double.NaN
      var df: DataFrame = null
      var error: String = null
      try {
        if (traced) sc.setJobGroup(s"$id|build", id)
        df = registry(lane)(spark, dir)
        tb = Clock.nowMs
        if (traced) sc.setJobGroup(s"$id|exec", id)
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => error = message(e) }
      val t1 = Clock.nowMs
      if (tb.isNaN) tb = t1
      if (traced) sc.clearJobGroup()
      if (error == null && rowsOnly(lane) && pass > 0) {
        try {
          val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*), lit(1L << 32))
          val r = df.agg(count(lit(1)), sum(h)).head()
          digests += Map("lane" -> lane, "pass" -> pass, "rows" -> r.getLong(0),
            "digest" -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
        } catch { case e: Throwable => error = s"digest: ${message(e)}" }
      }
      Caches.release()
      val storage = if (traced) storageMb(spark) else Double.NaN
      Map("id" -> id, "lane" -> lane, "pass" -> pass, "traced" -> traced,
        "t0_ms" -> t0, "tb_ms" -> tb, "t1_ms" -> t1,
        "build_s" -> (tb - t0) / 1e3, "exec_s" -> (t1 - tb) / 1e3,
        "total_s" -> (t1 - t0) / 1e3, "error" -> error, "storage_mb" -> storage)
    }

    def runPass(pass: Int, traced: Boolean): Map[String, Any] = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(lanes)
      val cpu0 = processCpuNs
      val gc0 = gcMillis
      val w0 = Clock.nowMs
      val samples = order.map(runLane(_, pass, traced))
      Map("pass" -> pass, "traced" -> traced, "lanes" -> samples,
        "wall_s" -> (Clock.nowMs - w0) / 1e3,
        "cpu_s" -> (processCpuNs - cpu0) / 1e9, "gc_ms" -> (gcMillis - gc0))
    }

    val cold = runPass(0, traced = false)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val memoBuild = Caches.memoBuildSecs
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> sc.defaultParallelism,
      "lanes" -> lanes, "setup_s" -> setupS, "cold" -> cold,
      "memo_build_s" -> memoBuild)

    System.gc()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val minPasses = a("min-passes").toInt
    val seconds = a("seconds").toDouble
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val start = Clock.nowMs
    var p = 1
    while (passes.size < minPasses || Clock.nowMs - start < seconds * 1e3) {
      val traced = trace && p % 2 == 0
      if (traced) tracer.foreach(_.attach())
      HeapWatch.armed = true
      passes += runPass(p, traced)
      HeapWatch.armed = false
      if (traced) tracer.foreach(_.detach())
      System.gc()
      p += 1
    }
    result ++= Seq("passes" -> passes, "heap_peak_mb" -> HeapWatch.peakMb,
      "digests" -> digests)
    tracer.foreach { t =>
      result ++= Seq("trace" -> t.toJson,
        "table_load_ms" -> tableLoadMs(spark, dir),
        "functions_ns_row" -> functionsNsRow(spark, dir))
    }
    result += "check_errors" -> writeOutputs(spark, dir, out, lanes)
    Files.writeString(Paths.get(out, "result.json"), Json(result))
    spark.stop()
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"

  /** Writes each lane's output as graft's `Verify` does, plus the oracle
    * and manifest files `tools/selfcheck.py` reads; returns lane -> error
    * for the lanes that threw. */
  private def writeOutputs(spark: SparkSession, dir: String, out: String,
      lanes: Seq[String]): Map[String, String] = {
    val check = s"$out/check"
    Files.createDirectories(Paths.get(check))
    val errors = lanes.sorted.flatMap { lane =>
      try {
        SparkEntry.queries(lane)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$check/$lane")
        None
      } catch { case e: Throwable => Some(lane -> message(e)) }
      finally Caches.release()
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => lanes.contains(k) }
    Files.writeString(Paths.get(check, "oracle_sql.json"), Json(oracle))
    Files.writeString(Paths.get(check, "queries.json"),
      Json(Map("registered" -> lanes.sorted, "failed" -> errors.keys.toSeq.sorted)))
    errors
  }

  /** Direct timed calls to the `graft.io.Tables` loaders, five per table
    * (`run.py` reports their median). */
  private def tableLoadMs(spark: SparkSession, dir: String): Map[String, Any] = {
    val loaders: Seq[(String, () => DataFrame)] =
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").map(t => t -> (() => Tables.load(spark, dir, t))) :+
        ("events" -> (() => Tables.events(spark, dir)))
    val perTable = loaders.map { case (t, load) =>
      t -> (1 to 5).map { _ =>
        val t0 = Clock.nowMs; load(); Clock.nowMs - t0
      }
    }
    Map("calls_ms" -> perTable.toMap)
  }

  /** SQL projections of graft's native functions: the stream decoders the
    * `serial_cpu` lanes use and the other per-row kernels of the
    * CPU-heavy lanes, each over the generated tables (their rows repeated until the
    * function's share takes about 0.15 s); the figure is the median time
    * over a same-shape projection without the function, per row. */
  private val FunctionProbes = Seq(
    "simhash32" -> ("documents", "simhash32(cast(text AS binary))"),
    "winnow_md5_fps" -> ("documents", "size(winnow_md5_fps(text))"),
    "cdc_chunks" -> ("documents", "size(cdc_chunks(text))"),
    "cascade_sigs" -> ("documents", "cascade_sigs(split(text, ' ')).n"),
    "md5hash60" -> ("documents", "md5hash60(text)"),
    "dct_phash" -> ("documents",
      "dct_phash(transform(sequence(0, 63), i -> cast(ascii(substr(text, i + 1, 1)) AS bigint)))"),
    "bootstrap_w60" -> ("orders", "size(bootstrap_w60(o_orderkey))"),
    // the stream decoders walk any string; text stands in for a payload
    "huff_stream_decode" -> ("documents", "huff_stream_decode(text).n_bytes"),
    "rle_stream_decode" -> ("documents", "rle_stream_decode(text).n_bytes"),
    "lz_stream_decode" -> ("documents", "lz_stream_decode(text).n_bytes"))

  private def functionsNsRow(spark: SparkSession, dir: String): Map[String, Any] =
    FunctionProbes.map { case (fn, (table, e)) =>
      val src = Tables.load(spark, dir, table)
      val base = if (table == "orders") "o_orderkey" else "length(text)"
      def time(df: DataFrame, reps: Int): Double = {
        df.write.format("noop").mode("overwrite").save()
        val xs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0).toDouble
        }.sorted
        xs(xs.size / 2)
      }
      val n = src.count()
      val perRow = (time(src.selectExpr(e), 1) - time(src.selectExpr(base), 1)) / n
      val k = math.min(64.0, math.ceil(0.15e9 / (n * perRow.max(200.0)))).toInt.max(1)
      val rep = src.selectExpr("*", s"explode(sequence(1, $k)) AS perfbench_rep")
      fn -> Map("rows" -> n * k, "fn_ns" -> time(rep.selectExpr(e), 3),
        "base_ns" -> time(rep.selectExpr(base), 3))
    }.toMap

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum / 1048576.0

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak heap occupancy right after a collection (the live set), from the
    * JVM's GC notifications, while `armed`. */
  private object HeapWatch {
    @volatile var armed = false
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def peakMb: Double = peak.get / 1048576.0

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) =>
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max(_, _))
          }, null, null)
      case _ => ()
    }
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * as Spark's listener event times. */
final class Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}
