package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Records, through Spark's public listener APIs only, the jobs, stages,
  * task metrics and query-planning phases of the traced passes. Events
  * stay in memory and are returned by [[toJson]] at the end of the run;
  * `run.py` turns them into spans under each lane's `build`/`exec` span
  * (jobs by their job group, stages by their job, planning phases by
  * time).
  *
  * Listener events arrive asynchronously; [[detach]] runs a sentinel
  * job and query and waits for both, so every event of the pass before
  * it has been delivered (the listener queue is FIFO) when the
  * listeners are removed.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val groups = scala.collection.mutable.Map.empty[Int, String]
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val tasks = scala.collection.mutable.Map.empty[Int, Array[Long]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var seenJob = -1
  @volatile private var seenQuery = -1
  private var sentinel = 0

  // per-stage task sums, in this order
  private val TaskFields = Seq("tasks", "duration_ms", "run_ms", "cpu_ns", "gc_ms",
    "in_bytes", "in_records", "out_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "scan_tasks")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.foreach(groups(e.jobId) = _)
      jobs += Map("job" -> e.jobId, "group" -> group.orNull, "start_ms" -> e.time,
        "stages" -> e.stageIds,
        "caches_callsite" -> e.stageInfos.exists(s =>
          s.name.contains("Caches.scala") || s.details.contains("graft.Caches.")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobEnds(e.jobId) = e.time
      groups.get(e.jobId).filter(_.startsWith("perfbench-sentinel-"))
        .foreach(g => seenJob = g.stripPrefix("perfbench-sentinel-").toInt)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val s = e.stageInfo
      stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "name" -> s.name, "submitted_ms" -> s.submissionTime.getOrElse(-1L),
        "completed_ms" -> s.completionTime.getOrElse(-1L), "num_tasks" -> s.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = tasks.getOrElseUpdate(e.stageId, new Array[Long](TaskFields.size))
      a(0) += 1
      a(1) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime
        a(4) += m.jvmGCTime
        a(5) += m.inputMetrics.bytesRead
        a(6) += m.inputMetrics.recordsRead
        a(7) += m.outputMetrics.bytesWritten
        a(8) += m.shuffleWriteMetrics.bytesWritten
        a(9) += m.shuffleReadMetrics.totalBytesRead
        a(10) += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) a(11) += 1
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, -1L, failed = true)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      failed: Boolean): Unit = {
    val mark = qe.analyzed.output.map(_.name).find(_.startsWith("perfbench_sentinel_"))
    mark match {
      case Some(m) => seenQuery = m.stripPrefix("perfbench_sentinel_").toInt
      case None =>
        val phases = qe.tracker.phases.map { case (k, v) =>
          k -> Seq(v.startTimeMs, v.endTimeMs) }
        val scans = if (failed) 0 else ScanCounter(qe.executedPlan)
        lock.synchronized {
          queries += Map("func" -> funcName, "phases" -> phases, "scans" -> scans,
            "duration_ns" -> durationNs, "failed" -> failed)
        }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    sentinel += 1
    sc.setJobGroup(s"perfbench-sentinel-$sentinel", "drain")
    spark.range(1).toDF(s"perfbench_sentinel_$sentinel").collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 60e9.toLong
    while ((seenJob < sentinel || seenQuery < sentinel) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(seenJob >= sentinel && seenQuery >= sentinel,
      "listener events of a traced pass were not delivered within 60 s")
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def toJson: Map[String, Any] = lock.synchronized {
    Map(
      "jobs" -> jobs.map(j => j + ("end_ms" -> jobEnds.getOrElse(j("job").asInstanceOf[Int], -1L))),
      "stages" -> stages,
      "task_fields" -> TaskFields,
      "tasks" -> tasks.map { case (k, v) => k.toString -> v.toSeq }.toMap,
      "queries" -> queries)
  }
}

/** File-scan nodes of an executed plan, through adaptive plans and
  * subqueries. */
object ScanCounter extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }.size
}
