package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collectors behind Spark's public listener hooks. They only append
  * plain records; attributing a job, stage or microbatch to an op is
  * done afterwards by time, which is sound because ops run one at a
  * time from a single client thread.
  *
  * Times are epoch milliseconds, the clock Spark's events carry.
  */
object Recorder {
  type Rec = Map[String, Any]

  /** Microbatches and query starts: registered in every run, because
    * the streaming end-to-end metrics are made from them. */
  final class Streams extends StreamingQueryListener {
    val started = ArrayBuffer.empty[Rec]
    val batches = ArrayBuffer.empty[Rec]

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized {
        started += Map("id" -> e.id.toString, "at" -> System.currentTimeMillis())
      }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        val ops = p.stateOperators.toSeq
        batches += Map(
          "id" -> p.id.toString,
          "batch" -> p.batchId,
          "at" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        )
      }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Jobs, and stages with their tasks' metrics summed: traced runs only. */
  final class Jobs extends SparkListener {
    val jobs = ArrayBuffer.empty[Rec]
    private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
    val stages = ArrayBuffer.empty[Rec]
    private val acc = scala.collection.mutable.Map.empty[Int, Array[Long]]
    // per stage: tasks, run ms, cpu ns, shuffle write, shuffle read,
    // spilled bytes, peak execution memory, input bytes
    private val N = 8

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, st) =>
        jobs += Map("id" -> e.jobId, "start" -> t0, "end" -> e.time,
          "stages" -> st, "ok" -> (e.jobResult == JobSucceeded))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc.getOrElseUpdate(e.stageId, new Array[Long](N))
      a(0) += 1
      val m = e.taskMetrics
      if (m != null) {
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.shuffleReadMetrics.totalBytesRead
        a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(6) = math.max(a(6), m.peakExecutionMemory)
        a(7) += m.inputMetrics.bytesRead
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = acc.remove(i.stageId).getOrElse(new Array[Long](N))
      stages += Map(
        "id" -> i.stageId,
        "start" -> i.submissionTime.getOrElse(0L),
        "end" -> i.completionTime.getOrElse(0L),
        "tasks" -> a(0), "run_ms" -> a(1), "cpu_ns" -> a(2),
        "shuffle_write" -> a(3), "shuffle_read" -> a(4), "spill" -> a(5),
        "peak_mem" -> a(6), "bytes_read" -> a(7))
    }
  }

  /** Catalyst phase intervals of every query execution: traced runs only. */
  final class Phases extends QueryExecutionListener {
    val qes = ArrayBuffer.empty[Rec]

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)

    private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
      qes += Map("func" -> funcName) ++ qe.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs, p.endTimeMs)
      }
    }
  }
}
