package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Traced-run recorder. A `SparkListener` keeps every job and stage the
  * run launches, in memory, with the properties that attribute it to an
  * op (its job group, or its streaming micro-batch id); [[open]] keeps
  * the benchmark's own spans around each call into a layer. Nothing is
  * analysed here: [[snapshot]] hands the raw records to `perfbench/`'s
  * Python side when the run ends. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobEnds = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val maxTaskMs = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val sqlExecs = ArrayBuffer.empty[Map[String, Any]]
  private var lastExecId = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobs += Map("job" -> e.jobId, "start_ms" -> e.time,
      "group" -> prop("spark.jobGroup.id"),
      "batch" -> prop("streaming.sql.batchId"),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds += Map("job" -> e.jobId, "end_ms" -> e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val k = (e.stageId, e.stageAttemptId)
      maxTaskMs(k) = math.max(maxTaskMs.getOrElse(k, 0L), m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val k = (s.stageId, s.attemptNumber())
    stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks,
      "submit_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "max_task_ms" -> maxTaskMs.getOrElse(k, 0L))
  }

  /** Opens a span under `parent` (-1: none) for op `op`; returns its id. */
  def open(name: String, parent: Int, op: Int): Int = synchronized {
    spans += Map("id" -> spans.length, "name" -> name, "parent" -> parent,
      "op" -> op, "start_ms" -> Clock.nowMs())
    spans.length - 1
  }

  def close(id: Int): Unit = synchronized {
    spans(id) = spans(id) + ("end_ms" -> Clock.nowMs())
  }

  /** After an op: wait for the listener bus, then keep the scan and
    * write metrics of every SQL execution that finished since the last
    * call, with the jobs each one ran. */
  def collectSql(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val store = spark.sharedState.statusStore
    val fresh = store.executionsList().filter(_.executionId > lastExecId)
    fresh.foreach { x =>
      lastExecId = math.max(lastExecId, x.executionId)
      val values = try store.executionMetrics(x.executionId)
        catch { case _: Throwable => Map.empty[Long, String] }
      val kept = x.metrics.filter(m => Recorder.SqlMetricNames(m.name))
        .flatMap(m => values.get(m.accumulatorId).map(v =>
          Map("name" -> m.name, "value" -> v)))
      synchronized {
        sqlExecs += Map("exec" -> x.executionId, "jobs" -> x.jobs.keys.toSeq,
          "metrics" -> kept)
      }
    }
  }

  def snapshot: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq, "job_ends" -> jobEnds.toSeq,
      "stages" -> stages.toSeq, "spans" -> spans.toSeq,
      "sql" -> sqlExecs.toSeq)
  }
}

object Recorder {
  /** The `sources`-layer SQL metrics: parquet scan input and file
    * writes (display names as Spark registers them). */
  val SqlMetricNames = Set("size of files read", "number of files read",
    "written output", "number of written files")
}

/** Wall clock in epoch milliseconds with sub-ms digits, comparable with
  * the listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
