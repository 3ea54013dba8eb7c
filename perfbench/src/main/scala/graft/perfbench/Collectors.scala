package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own per-trigger progress. Registered in every run: the
  * trigger windows are what freshness samples are assigned to.
  */
final class ProgressCollector extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[Json.Obj]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> (v.longValue(): Any) }.toMap
    progress.synchronized(progress += Map(
      "batch" -> p.batchId, "start" -> start, "rows" -> p.numInputRows,
      "duration_ms" -> d))
  }

  def snapshot: Seq[Json.Obj] = progress.synchronized(progress.toList)
}

/** Traced runs only: Spark jobs and stages with their task metrics, SQL
  * execution windows, AQE re-plans, and Catalyst phases per action.
  */
final class SparkCollector extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Json.Obj]
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  private val actions = mutable.ArrayBuffer.empty[Json.Obj]
  private val aqeUpdates = mutable.ArrayBuffer.empty[Double]
  private val WriteTarget = "Arguments: (file:[^,\\s]+)".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): Any = props.flatMap(p => Option(p.getProperty(k))).orNull
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time.toDouble,
      "batch" -> prop("streaming.sql.batchId"), "group" -> prop("spark.jobGroup.id"),
      "stages" -> e.stageIds.toList)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val rec: Json.Obj =
      if (m == null) Map("id" -> si.stageId, "tasks" -> si.numTasks)
      else Map(
        "id" -> si.stageId, "tasks" -> si.numTasks,
        "submitted" -> si.submissionTime.map(_.toDouble).orNull,
        "completed" -> si.completionTime.map(_.toDouble).orNull,
        "executor_run_ms" -> m.executorRunTime,
        "executor_cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "records_read" -> (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    synchronized(stages += rec)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlExecs(s.executionId) = mutable.Map("id" -> s.executionId,
        "start" -> s.time.toDouble,
        "target" -> WriteTarget.findFirstMatchIn(s.physicalPlanDescription)
          .map(_.group(1)).orNull)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlExecs.get(s.executionId).foreach(_("end") = s.time.toDouble)
    }
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      aqeUpdates += System.currentTimeMillis().toDouble
    }
    case _ => ()
  }

  private def phases(qe: QueryExecution): Json.Obj =
    qe.tracker.phases.map { case (k, p) =>
      k -> (Map("start" -> p.startTimeMs.toDouble, "end" -> p.endTimeMs.toDouble): Any)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      ok: Boolean): Unit = {
    val rec: Json.Obj = Map("func" -> funcName, "duration_ms" -> durationNs / 1e6,
      "ok" -> ok, "phases" -> phases(qe))
    synchronized(actions += rec)
  }

  def snapshot: Json.Obj = synchronized(Map(
    "jobs" -> jobs.values.map(_.toMap).toList,
    "stages" -> stages.toList,
    "sql" -> sqlExecs.values.map(_.toMap).toList,
    "actions" -> actions.toList,
    "aqe_updates" -> aqeUpdates.toList))
}

/** Heap still in use right after a full collection: the live set the
  * workload retains (caches, memos, pinned blocks), which repeats far
  * better than any reading taken after a young collection.
  */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / (1024.0 * 1024.0)
  }

  /** Milliseconds all collectors have spent so far, JVM-wide. */
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}

/** Hadoop `FileSystem` byte counts for the `file:` scheme. The local file
  * system counts no read or write operations, and vectored parquet reads
  * bypass the byte counts, so `bytes_read` covers the stream reads only
  * (footers, logs, metadata files).
  */
object FsStats {
  def snapshot(): Json.Obj = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map("bytes_read" -> all.map(_.getBytesRead).sum,
      "bytes_written" -> all.map(_.getBytesWritten).sum)
  }
}

object Collectors {
  /** Register before any stream starts: the micro-batch session clones
    * the listener manager when the query starts.
    */
  def install(spark: SparkSession, trace: Boolean): (ProgressCollector, Option[SparkCollector]) = {
    val progress = new ProgressCollector
    spark.streams.addListener(progress)
    val sc = if (trace) {
      val c = new SparkCollector
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    } else None
    (progress, sc)
  }
}
