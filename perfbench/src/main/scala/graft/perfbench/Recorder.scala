package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Local properties that tag every job with the span that caused it. */
object Tags {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
}

/** RDD blocks (persisted and locally checkpointed partitions) written
  * since the last [[startPass]]: how many, how many bytes, and the peak
  * of those bytes still held. Blocks of earlier passes are left out:
  * they are released without blocking and may still be held when a
  * pass starts. Registered in every run, traced or not, because the
  * bytes written are an end-to-end metric. */
final class BlockTracker extends SparkListener {
  private val sizes = mutable.HashMap.empty[BlockId, Long]
  private var held, peak, writes, writeBytes = 0L

  private def release(id: BlockId): Unit = held -= sizes.remove(id).getOrElse(0L)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      release(info.blockId)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (size > 0) {
        sizes(info.blockId) = size
        held += size
        peak = math.max(peak, held)
        writes += 1
        writeBytes += size
      }
    }
  }

  // Unpersisting an RDD drops its blocks without a block update.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    sizes.keys.filter(_.asRDDId.exists(_.rddId == e.rddId)).toList.foreach(release)
  }

  def startPass(): Unit = synchronized {
    sizes.clear()
    held = 0
    peak = 0
    writes = 0
    writeBytes = 0
  }

  /** (peak bytes held, blocks written, bytes written) since [[startPass]]. */
  def snapshot: (Long, Long, Long) = synchronized((peak, writes, writeBytes))
}

/** Sums of the task metrics of one stage attempt. */
final class StageAgg(val id: Int, val attempt: Int, val query: String) {
  var tasks, failed, nonempty = 0L
  var runMs, cpuNs, gcMs, deserMs, delayMs = 0L
  var inBytes, inRecords = 0L
  var shWriteBytes, shWriteRecords, shReadBytes, shReadRecords = 0L
  var fetchWaitMs, spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "attempt" -> attempt, "query" -> query,
    "tasks" -> tasks, "failed_tasks" -> failed,
    "nonempty_tasks" -> nonempty, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "deser_ms" -> deserMs, "delay_ms" -> delayMs,
    "in_bytes" -> inBytes, "in_records" -> inRecords,
    "sh_write_bytes" -> shWriteBytes, "sh_write_records" -> shWriteRecords,
    "sh_read_bytes" -> shReadBytes, "sh_read_records" -> shReadRecords,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes)
}

/** The traced run's recorder: jobs, stage attempts with their task
  * metrics, and the planning phases of every Dataset action. Events
  * arrive on the listener bus; [[take]] hands over what a pass
  * recorded once the bus is drained. Nothing is kept while [[on]] is
  * false, so untraced passes in the same JVM pay only the bus. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobById = mutable.HashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val sql = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      val j = mutable.Map[String, Any]("id" -> e.jobId,
        "query" -> prop(e.properties, Tags.Query),
        "phase" -> prop(e.properties, Tags.Phase),
        "start_ms" -> e.time, "end_ms" -> e.time, "stages" -> e.stageIds)
      jobs += j
      jobById(e.jobId) = j
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (on) {
      val s = e.stageInfo
      stages((s.stageId, s.attemptNumber())) = new StageAgg(s.stageId,
        s.attemptNumber(), prop(e.properties, Tags.Query))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val info = e.taskInfo
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.failed += 1
      Option(e.taskMetrics).foreach { m =>
        val in = m.inputMetrics
        val sw = m.shuffleWriteMetrics
        val sr = m.shuffleReadMetrics
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        // Scheduler delay as the Spark UI defines it: the part of the
        // task's wall time not spent deserializing, running, serializing
        // the result or fetching it.
        val fetchResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        s.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetchResult)
        s.inBytes += in.bytesRead
        s.inRecords += in.recordsRead
        s.shWriteBytes += sw.bytesWritten
        s.shWriteRecords += sw.recordsWritten
        s.shReadBytes += sr.totalBytesRead
        s.shReadRecords += sr.recordsRead
        s.fetchWaitMs += sr.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        if (in.recordsRead + sr.recordsRead + sw.recordsWritten +
            m.outputMetrics.recordsWritten > 0) s.nonempty += 1
      }
    }
  }

  private def phases(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    if (on) {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      sql += Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
        "ok" -> ok)
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe, ok = true)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe, ok = false)

  /** Everything recorded since the previous call, as plain maps. */
  def take(): Map[String, Any] = synchronized {
    val out = Map(
      "jobs" -> jobs.map(_.toMap).toList,
      "stages" -> stages.values.map(_.toMap).toList,
      "sql" -> sql.toList)
    jobs.clear(); jobById.clear(); stages.clear(); sql.clear()
    out
  }
}
