package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlExecutionPhases
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Listener on the shared bus for the traced run. It sees the jobs,
  * stages, tasks, SQL executions and streaming progress of every
  * session on the SparkContext, including sessions a query body clones.
  *
  * Queries run one at a time and the bus is drained before `begin` and
  * before `end`, so everything the bus delivers between the two belongs
  * to that query: jobs are attributed by time window, not only by job
  * group, because streaming micro-batches run on their own thread with
  * their own group. */
final class Tracer extends SparkListener {
  import Tracer.{Job, Stage}

  final class Record {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val streamState = mutable.LinkedHashMap.empty[String, Long]
    var peakStorage = 0L
    def add(k: String, v: Double): Unit = counters(k) += v
  }

  private var current: Record = null
  /** Bytes (memory plus disk) of each stored RDD block, by RDD id. A
    * query starts with none: the harness unpersists everything between
    * queries. Unpersisting removes blocks without a block-update event,
    * so an RDD's blocks are dropped on its unpersist event. */
  private val rddBlocks = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]

  def begin(): Unit = synchronized {
    rddBlocks.clear()
    current = new Record
  }

  def end(): Record = synchronized {
    val r = current
    current = null
    r.counters("stream.state_rows") = r.streamState.values.sum.toDouble
    r.counters("cache.peak_storage_b") = r.peakStorage.toDouble
    r
  }

  private def rec(f: Record => Unit): Unit = synchronized { if (current != null) f(current) }

  override def onJobStart(e: SparkListenerJobStart): Unit = rec { r =>
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    r.jobs += Job(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = rec { r =>
    r.jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = rec { r =>
    val s = e.stageInfo
    r.stages += Stage(s.stageId, s.numTasks,
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec { r =>
    val info = e.taskInfo
    val m = e.taskMetrics
    r.add("tasks", 1)
    if (m != null) {
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      r.add("exec.task_ms", m.executorRunTime.toDouble)
      r.add("exec.cpu_ms", m.executorCpuTime / 1e6)
      r.add("exec.gc_ms", m.jvmGCTime.toDouble)
      r.add("exec.deser_ms", m.executorDeserializeTime.toDouble)
      r.add("sched.delay_ms", delay.max(0L).toDouble)
      r.add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      r.add("shuffle.read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      r.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      r.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      r.add("scan.b", m.inputMetrics.bytesRead.toDouble)
      r.add("scan.records", m.inputMetrics.recordsRead.toDouble)
      r.add("write.b", m.outputMetrics.bytesWritten.toDouble)
      r.add("write.records", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = rec { r =>
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { id =>
      val blocks = rddBlocks.getOrElseUpdate(id.rddId, mutable.HashMap.empty)
      val size = b.memSize + b.diskSize
      if (size == 0) blocks.remove(id.name) else blocks(id.name) = size
      r.peakStorage = r.peakStorage.max(rddBlocks.valuesIterator.map(_.values.sum).sum)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = rec(_ => rddBlocks.remove(e.rddId))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd =>
      val phases = SqlExecutionPhases(x)
      rec { r =>
        r.add("catalyst.executions", 1)
        r.add("catalyst.analysis_ms", phases.getOrElse("analysis", 0L).toDouble)
        r.add("catalyst.optimizer_ms", phases.getOrElse("optimization", 0L).toDouble)
        r.add("catalyst.planning_ms", phases.getOrElse("planning", 0L).toDouble)
      }
    case p: QueryProgressEvent =>
      val pr = p.progress
      rec { r =>
        r.add("stream.batches", 1)
        r.add("stream.trigger_ms", Option(pr.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))
        r.streamState(pr.runId.toString) = pr.stateOperators.map(_.numRowsTotal).sum
      }
    case _ =>
  }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, submitted: Long, completed: Long)
}
