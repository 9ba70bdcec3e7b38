package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** JSON lines for the event records, rendered by Jackson's Scala module. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)
}

/** Epoch microseconds with nanoTime resolution, on the same epoch as the
  * millisecond timestamps Spark puts on its listener events. */
object Clock {
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs + (System.nanoTime() - nano0) / 1000L
}

/** The local property that ties a Spark job to the benchmark operation that
  * submitted it. The client thread sets it before each operation. */
object OpProperty {
  val Key = "perfbench.op"
}

/** Traced-run recorder: a SparkListener for jobs, stages, tasks and block
  * updates plus a QueryExecutionListener for Catalyst planning phases.
  * Records are kept in memory as JSON lines and written when the run ends.
  * Attached only around traced operations; [[detach]] drains the listener
  * bus first so every event of the operation is recorded. */
final class Recorder(spark: SparkSession) {
  val records = new ConcurrentLinkedQueue[String]()
  @volatile private var currentOp: String = ""

  private val jobStart = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageTaskFailures = mutable.Map.empty[(Int, Int), Int]
  // live cached/checkpointed/broadcast blocks created since the operation began
  private val liveBlocks = mutable.Map.empty[BlockId, Long]
  private var liveBytes = 0L
  private var peakBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty.Key)))
      val op = prop.getOrElse(currentOp)
      jobStart(e.jobId) = (e.time, op, e.stageIds)
      e.stageIds.foreach(s => stageOp(s) = op)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (start, op, stages) =>
        records.add(Json.obj("t" -> "job", "id" -> e.jobId, "op" -> op,
          "start" -> start * 1000L, "end" -> e.time * 1000L, "stages" -> stages,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      if (e.taskInfo != null && e.taskInfo.failed) {
        val k = (e.stageId, e.stageAttemptId)
        stageTaskFailures(k) = stageTaskFailures.getOrElse(k, 0) + 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val start = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(start)
      val (run, cpu, gc, sr, sw, spill) =
        if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      records.add(Json.obj("t" -> "stage", "id" -> si.stageId,
        "attempt" -> si.attemptNumber(), "op" -> stageOp.getOrElse(si.stageId, currentOp),
        "name" -> si.name, "start" -> start * 1000L, "end" -> end * 1000L,
        "tasks" -> si.numTasks, "run_ms" -> run, "cpu_ns" -> cpu, "gc_ms" -> gc,
        "shuffle_read_bytes" -> sr, "shuffle_write_bytes" -> sw,
        "spill_bytes" -> spill, "ok" -> si.failureReason.isEmpty,
        "task_failures" -> stageTaskFailures.getOrElse((si.stageId, si.attemptNumber()), 0)))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Recorder.this.synchronized {
      val info = e.blockUpdatedInfo
      val bytes = info.memSize + info.diskSize
      val before = liveBlocks.getOrElse(info.blockId, 0L)
      if (bytes > 0L) liveBlocks(info.blockId) = bytes else liveBlocks.remove(info.blockId)
      liveBytes += bytes - before
      peakBytes = math.max(peakBytes, liveBytes)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordQe(funcName, qe, ok = false)
  }

  private def recordQe(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    records.add(Json.obj("t" -> "qe", "func" -> funcName, "ok" -> ok,
      "phases" -> phases))
  }

  /** Starts recording for operation `op`. */
  def attach(op: String): Unit = {
    synchronized {
      currentOp = op
      liveBlocks.clear()
      liveBytes = 0L
      peakBytes = 0L
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Drains the bus, stops recording, and records the operation's storage
    * high-water mark. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    synchronized {
      records.add(Json.obj("t" -> "storage", "op" -> currentOp, "peak_bytes" -> peakBytes))
      jobStart.clear()
      stageOp.clear()
      stageTaskFailures.clear()
    }
  }
}
