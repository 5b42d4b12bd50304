package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: one workload, one closed-loop client. Prints a detail
 * line (inputs, per-operation times, check failures) and, as the last line,
 * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
 * when tracing is off, the per-layer metrics when it is on.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *             --work <dir> [--cores <n>] [--scale full|tiny] [--corrupt <0|1>]
 */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      cores: Int, tiny: Boolean, corrupt: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.get("cores").fold(Runtime.getRuntime.availableProcessors())(_.toInt),
      m.get("scale").contains("tiny"), m.get("corrupt").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val workload = Workload(a.workload, a.seed, a.tiny)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try run(spark, workload, a, jvmStartMs)
      finally spark.stop()
    println(result)
  }

  /** A fixed computation that uses no graft code: its time moves with load
    * on the box, never with the program under test. Median of three. */
  private def controlProbe(spark: SparkSession): Double = {
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 8).selectExpr("sum(id * 3 + 1) as s", "count(1) as c").collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    t(1)
  }

  /** Heap occupied after a full collection: what is still live. Unlike a
    * pool's peak it does not move with when the collector happened to run. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** One operation as run: seconds inside the timed window, whether it was
    * traced, and its output or the error it raised. */
  private final case class OpRun(
      i: Int, timed: Boolean, traced: Boolean, seconds: Double,
      out: Either[String, Output], root: Option[Span], persisted: Int, cachedMb: Double,
      liveHeapMb: Double)

  private def run(spark: SparkSession, w: Workload, a: Args, jvmStartMs: Long): String = {
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val controlStart = controlProbe(spark)
    val t0 = System.nanoTime()
    w.prepare(spark, s"${a.work}/data")
    val prepareS = (System.nanoTime() - t0) / 1e9

    def runOp(i: Int, timed: Boolean, traced: Boolean): OpRun = {
      val t0 = System.nanoTime()
      val (fetch, root) =
        try { val (f, r) = tracer.operation(i, traced)(w.op(i, tracer)); (Right(f), r) }
        catch { case NonFatal(e) => (Left(s"${e.getClass.getSimpleName}: ${e.getMessage}"), None) }
      val seconds = root.fold((System.nanoTime() - t0) / 1e9)(_.seconds)
      val out = fetch.flatMap { f =>
        try Right(f()) catch { case NonFatal(e) => Left(s"fetching output: ${e.getMessage}") }
      }
      // What the operation left live and registered, then the same clean-up
      // every time.
      val heapMb = liveHeapMb()
      val persisted = sc.getPersistentRDDs.size
      val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      OpRun(i, timed, traced, seconds, out, root, persisted, cachedMb, heapMb)
    }

    val runs = scala.collection.mutable.ArrayBuffer.empty[OpRun]
    (0 until w.warmupOps).foreach(i => runs += runOp(i, timed = false, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // Closed loop: the next operation starts when the previous one returns.
    // A traced run alternates traced and untraced operations, so tracing
    // cost is measured in the same process.
    val loopStart = System.nanoTime()
    var j = 0
    while (j < (if (a.trace) 2 else 1) || System.nanoTime() - loopStart < a.seconds * 1e9) {
      runs += runOp(w.warmupOps + j, timed = true, traced = a.trace && j % 2 == 0)
      j += 1
    }
    val controlEnd = controlProbe(spark)

    // Checks run after the timed loop, on every operation, warm-up included.
    val checkStart = System.nanoTime()
    val errors = runs.map { r =>
      r.out.flatMap { o =>
        w.check(r.i, if (a.corrupt) w.corrupt(o) else o).toLeft(o)
      }.left.toOption.map(e => s"op ${r.i}: $e")
    }
    val failed = errors.count(_.isDefined)
    val checkS = (System.nanoTime() - checkStart) / 1e9
    val timed = runs.filter(_.timed)
    val untracedS = timed.filterNot(_.traced).map(_.seconds).toSeq
    val tracedRuns = timed.filter(_.traced).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s.p50", median(untracedS), "s"),
        ("rows_per_s", w.rowsPerOp * untracedS.size / untracedS.sum, "rows/s"),
        ("live_heap_mb", median(timed.filterNot(_.traced).map(_.liveHeapMb).toSeq), "MB"))
      else layerMetrics(w, a, tracer, tracedRuns, untracedS, runs.toSeq,
        (controlStart + controlEnd) / 2)

    val inputsStart = System.nanoTime()
    val inputs = Json.obj(w.inputs: _*)
    println(Json.obj(
      "workload" -> w.name, "why" -> w.why, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "inputs" -> Json.Raw(inputs),
      "session_s" -> sessionS, "prepare_s" -> prepareS, "check_s" -> checkS,
      "inputs_s" -> (System.nanoTime() - inputsStart) / 1e9,
      "warmup_op_s" -> runs.filterNot(_.timed).map(_.seconds),
      "timed_ops" -> timed.size, "op_s" -> timed.map(_.seconds),
      "op_s_p90" -> quantile(timed.map(_.seconds).toSeq, 0.9),
      "op_live_heap_mb" -> timed.map(_.liveHeapMb),
      "traced" -> timed.map(_.traced),
      "error_rate" -> failed.toDouble / runs.size, "errors" -> errors.flatten.take(5),
      "host_control_s" -> Seq(controlStart, controlEnd)))
    if (a.trace) writeTrace(tracer, w, a)
    Json.obj(
      "correct" -> (failed == 0), "attempted" -> runs.size, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*)))
  }

  private def layerMetrics(
      w: Workload, a: Args, tracer: Tracer, traced: Seq[OpRun],
      untracedS: Seq[Double], all: Seq[OpRun], controlS: Double): Seq[(String, Double, String)] = {
    val roots = traced.flatMap(_.root)
    def perOp(f: Span => Double): Double = median(roots.map(f))
    def child(name: String)(root: Span): Double =
      tracer.opSpans(root.op).filter(_.name == name).map(_.seconds).sum
    def counts(f: (Counts, Span) => Double): Double =
      perOp(root => f(tracer.opCounts(root.op), root))
    // Only the operator calls and layers the workload runs are printed.
    val called = roots.flatMap(r => tracer.opSpans(r.op)).map(_.name).toSet
    val calls = Seq("operators.SimJoin.keyedPairs", "operators.Dedup.minHashLshPairs",
      "operators.Dedup.canonicalize").filter(called).map(n => (s"${n}_s", perOp(child(n)), "s"))
    calls ++ w.layers(traced.flatMap(r => r.out.toOption.map(r.i -> _))) ++ Seq(
      ("plans.catalyst_ms", perOp(r => tracer.catalystMs(r.op)), "ms"),
      ("spark.jobs", counts((c, _) => c.jobs.toDouble), "count"),
      ("spark.stages", counts((c, _) => c.stages.toDouble), "count"),
      ("spark.tasks", counts((c, _) => c.tasks.toDouble), "count"),
      ("spark.tasks_failed", counts((c, _) => c.tasksFailed.toDouble), "count"),
      ("spark.stages_retried", counts((c, _) => c.stagesRetried.toDouble), "count"),
      ("spark.task_s", counts((c, _) => c.taskMs / 1e3), "s"),
      ("spark.task_cpu_s", counts((c, _) => c.cpuNs / 1e9), "s"),
      ("spark.gc_s", counts((c, _) => c.gcMs / 1e3), "s"),
      ("spark.task_wait_s", counts((c, _) => c.waitMs / 1e3), "s"),
      ("spark.busy_frac", counts((c, r) => c.taskMs / 1e3 / (r.seconds * a.cores)), "ratio"),
      ("spark.task_skew", counts((c, _) => c.skew), "ratio"),
      ("spark.shuffle_write_mb", counts((c, _) => c.shuffleWrite / 1e6), "MB"),
      ("spark.shuffle_read_mb", counts((c, _) => c.shuffleRead / 1e6), "MB"),
      ("spark.spill_mb", counts((c, _) => c.spill / 1e6), "MB"),
      ("spark.result_mb", counts((c, _) => c.result / 1e6), "MB"),
      ("storage.persisted_rdds_after_op", median(all.map(_.persisted.toDouble)), "count"),
      ("storage.cached_mb_after_op", median(all.map(_.cachedMb)), "MB"),
      ("trace.plan_s", perOp(child("plan")), "s"),
      ("trace.action_s", perOp(child("action")), "s"),
      ("trace.root_self_s", perOp(tracer.selfSeconds), "s"),
      ("trace.self_sum_frac",
        perOp(r => tracer.opSpans(r.op).map(tracer.selfSeconds).sum / r.seconds), "ratio"),
      ("host.control_s", controlS, "s"),
      ("trace.overhead_frac", median(roots.map(_.seconds)) / median(untracedS) - 1, "ratio"))
  }

  /** Every span of the run with its self time and Spark counts, one file per run. */
  private def writeTrace(t: Tracer, w: Workload, a: Args): Unit = {
    val dir = new File(a.work, "traces")
    dir.mkdirs()
    val out = new PrintWriter(new File(dir, s"${w.name}-seed${a.seed}.json"), "UTF-8")
    try t.spans.foreach { s =>
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> t.selfSeconds(s),
        "counts" -> Json.Raw(s.counts.json)))
    } finally out.close()
  }
}
