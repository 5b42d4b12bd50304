package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters of one span, summed over the jobs it submitted. */
final class Counts {
  var jobs, stages, stagesRetried, tasks, tasksFailed = 0L
  var taskMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, result = 0L
  /** Worst stage's max/median task time (1 when no stage qualifies). */
  var skew = 1.0

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; stagesRetried += o.stagesRetried
    tasks += o.tasks; tasksFailed += o.tasksFailed
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; result += o.result
    skew = math.max(skew, o.skew)
  }

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "stages_retried" -> stagesRetried,
    "tasks" -> tasks, "tasks_failed" -> tasksFailed, "task_s" -> taskMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "task_wait_s" -> waitMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6, "result_mb" -> result / 1e6, "task_skew" -> skew)
}

/** One timed interval. `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long) {
  var end: Long = start
  val counts = new Counts
  def seconds: Double = (end - start) / 1e9
}

/**
 * Spans around the benchmark's calls into graft, plus listener counts
 * attributed to the innermost open span through a Spark local property
 * (jobs inherit it, including the ones adaptive execution and broadcast
 * threads submit). Listeners are attached only while a traced operation
 * runs, so untraced operations pay nothing. Spans stay in memory until the
 * run ends.
 */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanProperty

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var op = -1
  private val listener = new Listener
  private val catalyst = new CatalystListener

  def active: Boolean = op >= 0

  /** Run `f` as operation `i`'s root span when `traced`; returns (result, root). */
  def operation[T](i: Int, traced: Boolean)(f: => T): (T, Option[Span]) =
    if (!traced) (f, None)
    else {
      sc.addSparkListener(listener)
      spark.listenerManager.register(catalyst)
      op = i
      try {
        var root: Span = null
        val out = span("op") { root = open.head; f }
        PerfBenchBridge.drainListeners(sc)
        listener.collect(spans, root)
        (out, Some(root))
      } finally {
        op = -1
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(catalyst)
      }
    }

  /** A child span of the open span; a plain call when no operation is traced. */
  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), op, name, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Analysis + optimization + planning time of operation `i`'s last query
    * execution: its final action. */
  def catalystMs(i: Int): Double = catalyst.lastMs.getOrElse(i, 0.0)

  /** Duration minus the part of it the span's children cover. Children of
    * one span run one after another on the caller's thread, so they do not
    * overlap and their durations add. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def opSpans(i: Int): Seq[Span] = spans.filter(_.op == i).toSeq

  /** Counters summed over every span of operation `i`. */
  def opCounts(i: Int): Counts = {
    val c = new Counts
    opSpans(i).foreach(s => c.add(s.counts))
    c
  }

  private final class CatalystListener extends QueryExecutionListener {
    val lastMs = mutable.HashMap.empty[Int, Double]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (op >= 0) lastMs(op) = qe.tracker.phases.valuesIterator.map(_.durationMs.toDouble).sum
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Listener-thread state, keyed by span id (-1: no property seen). */
  private final class Listener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val submitted = mutable.HashMap.empty[(Int, Int), Long]
    private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    private val bySpan = mutable.HashMap.empty[Int, Counts]

    private def counts(span: Int) = bySpan.getOrElseUpdate(span, new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .fold(-1)(_.toInt)
      e.stageIds.foreach(stageSpan(_) = span)
      counts(span).jobs += 1
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      submitted((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val c = counts(stageSpan.getOrElse(i.stageId, -1))
      c.stages += 1
      if (i.attemptNumber() > 0) c.stagesRetried += 1
      taskMs.remove((i.stageId, i.attemptNumber())).foreach { ms =>
        // skew only where it can cost wall time: ≥ 2 tasks and ≥ 100 ms of work
        if (ms.size >= 2 && ms.sum >= 100) {
          val sorted = ms.sorted
          c.skew = math.max(c.skew, sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)))
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counts(stageSpan.getOrElse(e.stageId, -1))
      val info = e.taskInfo
      c.tasks += 1
      if (!info.successful) c.tasksFailed += 1
      c.taskMs += info.duration
      submitted.get((e.stageId, e.stageAttemptId))
        .foreach(t => c.waitMs += math.max(0L, info.launchTime - t))
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += info.duration
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.result += m.resultSize
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }

    /** Move the counts into their spans; events without a span property go
      * to the operation's root. */
    def collect(spans: mutable.ArrayBuffer[Span], root: Span): Unit = synchronized {
      bySpan.foreach { case (id, c) => (if (id >= 0) spans(id) else root).counts.add(c) }
      bySpan.clear(); stageSpan.clear(); submitted.clear(); taskMs.clear()
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
