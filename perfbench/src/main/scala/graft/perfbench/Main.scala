package graft.perfbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one JVM: a single closed-loop client issues one
  * op at a time against graft's public entry points and records what it
  * saw. `perfbench/run.py` generates the inputs, launches this, checks
  * the outputs against the DuckDB oracle and turns the record into
  * metrics.
  *
  * Usage: `Main --workload reports|ingest --input DIR --work DIR
  * --out FILE --measured N --seed N --trace 0|1 [--queries q01,q02,...]`.
  * `--measured` is the number of measured passes (`reports`) or of
  * generated micro-batches after batch 0 (`ingest`).
  *
  * The run record (`--out`) holds the noise stamps, every op (measured
  * or not; with the oracle query its output is checked against, if
  * any) with its closure / plan / exec split, heap
  * samples, and with `--trace 1` the raw listener records and kernel
  * micro-timings. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = Config(a("workload"), a("input"), a("work"), a("measured").toInt,
      a("seed").toLong, a("trace") == "1",
      a.get("queries").map(_.split(",").toSeq).getOrElse(Nil))
    val stampsStart = Stamps.now()
    val cpus = Runtime.getRuntime.availableProcessors()
    // graft's standard session, with every directory inside the run's own
    val spark = GraftSession.configure(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.local.dir", s"${cfg.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = if (cfg.trace) Some(new Recorder(spark)) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, cfg, rec)
    val extra = cfg.workload match {
      case "ingest" => new IngestWorkload(run).execute()
      case _ => new QueryWorkload(run).execute()
    }
    val kernels = if (cfg.trace) KernelTimings.measure(spark, cfg.input) else Map.empty
    val record = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "jvm_start_ms" -> startMs, "first_measured_ms" -> run.firstMeasuredMs,
      "input_prep_s" -> run.inputPrepS,
      "stamps" -> Map("start" -> stampsStart, "end" -> Stamps.now(),
        "nproc" -> cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version),
      "ops" -> run.ops.toSeq, "heap_mb" -> run.heapMb.toSeq,
      "peak_rss_mb" -> Stamps.peakRssMb(), "kernels" -> kernels,
      "trace_record" -> rec.map(_.snapshot).orNull) ++ extra
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(record)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    spark.stop()
  }
}

final case class Config(workload: String, input: String, work: String,
                        measured: Int, seed: Long, trace: Boolean,
                        queries: Seq[String])

/** Op bookkeeping shared by the workloads. */
final class Run(val spark: SparkSession, val cfg: Config, val rec: Option[Recorder]) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val heapMb = ArrayBuffer.empty[Double]
  var firstMeasuredMs = 0.0
  var inputPrepS = 0.0

  def measuring(): Unit = if (firstMeasuredMs == 0.0) firstMeasuredMs = Clock.nowMs()

  /** Live heap after a forced GC, sampled at pass ends. */
  def sampleHeap(): Unit = {
    System.gc()
    heapMb += java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Traced only: a span around `f`, closed even when `f` throws. */
  def span[T](name: String, parent: Int, op: Int)(f: Int => T): T = rec match {
    case None => f(-1)
    case Some(r) =>
      val id = r.open(name, parent, op)
      try f(id) finally r.close(id)
  }
}

/** `reports`: one op = one registered query. Pass 0 is the check
  * pass: it runs every query once, in the workload's list order, and
  * writes each result to parquet for the oracle compare. Pass 1 runs
  * them once more into the `noop` sink, unmeasured: after one pass the
  * JIT is still compiling, and a measured pass right after it ran ~20%
  * slower than the next. `measured` passes follow, each in its own
  * seed-permuted order, into `noop`. A last check pass, in one more
  * permuted order, writes parquet again: it checks the queries as they
  * run after the measured passes, with whatever state those left
  * behind. The pass count never depends on how fast the ops run, so
  * every run measures the same ops. */
final class QueryWorkload(run: Run) {
  import run._

  private val registry = SparkEntry.queries.toSeq
  private val selected = cfg.queries.map { id =>
    registry.find(_._1.startsWith(id + "_"))
      .getOrElse(sys.error(s"no registered query $id"))
  }

  private def op(name: String, fn: (SparkSession, String) => DataFrame,
                 pass: Int, check: Boolean, measured: Boolean): Unit = {
    val id = ops.length
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    var closure, plan, exec = 0.0
    var error: String = null
    val t0 = Clock.nowMs()
    try span("op", -1, id) { root =>
      val df = span("closure", root, id) { _ => fn(spark, cfg.input) }
      val t1 = Clock.nowMs()
      closure = t1 - t0
      if (cfg.trace) span("plan", root, id) { _ => df.queryExecution.executedPlan }
      val t2 = Clock.nowMs()
      plan = t2 - t1
      span("exec", root, id) { _ =>
        if (check) df.coalesce(1).write.mode("overwrite").parquet(s"${cfg.work}/out/$id")
        else df.write.format("noop").mode("overwrite").save()
      }
      exec = Clock.nowMs() - t2
    } catch { case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val wall = Clock.nowMs() - t0
    sc.clearJobGroup()
    rec.foreach(_.collectSql())
    ops += Map("id" -> id, "name" -> name, "pass" -> pass,
      "measured" -> measured, "oracle" -> (if (check) name else null),
      "group" -> s"op-$id",
      "start_ms" -> t0, "wall_s" -> wall / 1e3, "closure_s" -> closure / 1e3,
      "plan_s" -> plan / 1e3, "exec_s" -> exec / 1e3, "error" -> error)
  }

  def execute(): Map[String, Any] = {
    val rng = new scala.util.Random(cfg.seed)
    selected.foreach { case (n, f) => op(n, f, 0, check = true, measured = false) }
    rng.shuffle(selected).foreach { case (n, f) => op(n, f, 1, check = false, measured = false) }
    sampleHeap()
    measuring()
    for (pass <- 2 to cfg.measured + 1) {
      rng.shuffle(selected).foreach { case (n, f) => op(n, f, pass, check = false, measured = true) }
      sampleHeap()
    }
    rng.shuffle(selected).foreach { case (n, f) =>
      op(n, f, cfg.measured + 2, check = true, measured = false) }
    Map("oracle_sql" -> selected.map { case (n, _) =>
      n -> SparkEntry.oracleSql.getOrElse(n, null) }.toMap)
  }
}

/** /proc-based noise stamps. */
object Stamps {
  def now(): Map[String, Any] = Map(
    "load_1m" -> GraftSession.loadAvg1m(),
    "foreign_jvms" -> foreignJvms())

  /** Java processes that are neither this JVM nor one of its ancestors
    * (classified by graft's own bench rule, [[graft.Bench.foreignJvms]]). */
  def foreignJvms(): Seq[Long] = try {
    val procs = Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .toSeq.filter(_.getName.forall(_.isDigit)).flatMap { f =>
        try {
          val stat = read(s"/proc/${f.getName}/stat")
          val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          Some((f.getName.toLong, rest(1).toLong, read(s"/proc/${f.getName}/comm").trim))
        } catch { case _: Throwable => None }
      }
    graft.Bench.foreignJvms(procs, ProcessHandle.current().pid())
  } catch { case _: Throwable => Nil }

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double = try {
    read("/proc/self/status").split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
  } catch { case _: Throwable => -1.0 }

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
}
