package graft.perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, Trigrams}
import graft.operators.{Dedup, SimJoin, SimJoinOptions, SimKernel, SimKernelCore}

/** What one operation returned, kept for the check after the timed loop.
  * `sample` holds (left id, right id, sim) rows of the sampled left ids. */
sealed trait Output { def rows: Long }
final case class PairsOut(rows: Long, sample: Seq[(Long, Long, Double)]) extends Output
final case class KeptOut(rows: Long, ids: Array[Long]) extends Output

/** One workload: seeded inputs, one operation, its output check, and the
  * per-layer probes that only a traced run takes. */
trait Workload {
  def name: String
  def why: String
  /** Input rows one operation completes (left names or documents). */
  def rowsPerOp: Long
  /** Untimed operations before the timed loop. */
  def warmupOps: Int
  /** Whether operation `i` runs on a tenth of the input: every warm-up but
    * the last does, which warms the same code paths for a fraction of the
    * time; the last warm-up pays the first full-size run's extra cost. */
  def sliced(i: Int): Boolean = i < warmupOps - 1
  /** Writes the seeded inputs as parquet under `dir` and reads them back. */
  def prepare(spark: SparkSession, dir: String): Unit
  /** Operation `i`, inside its root span. Returns a thunk, run after the timed
    * window, that fetches what the check needs. */
  def op(i: Int, t: Tracer): () => Output
  /** None when operation `i`'s output is correct, else why not. */
  def check(i: Int, out: Output): Option[String]
  /** `out` with one wrong answer in it, for the self-check that the check
    * catches a corrupted result. */
  def corrupt(out: Output): Output = out match {
    case p: PairsOut =>
      p.copy(sample = p.sample.take(1).map { case (l, r, sim) => (l, r + 1, sim) } ++ p.sample.drop(1))
    case other => other
  }
  /** The input properties the workload's behaviour depends on. */
  def inputs: Seq[(String, Any)]
  /** Direct-call timings and work counts as (name, value, unit), taken
    * outside the timed loop; `outs` are the traced operations' outputs. */
  def layers(outs: Seq[(Int, Output)]): Seq[(String, Double, String)]

  /** Every operation forces its plan, then runs the action that consumes
    * the full result. */
  protected def finish[T](t: Tracer, df: DataFrame)(action: DataFrame => T): T = {
    t.span("plan")(df.queryExecution.executedPlan)
    t.span("action")(action(df))
  }

  /** Full result to the noop sink; `metrics` observed on the way. */
  protected def toNoop(t: Tracer, df: DataFrame, metrics: org.apache.spark.sql.Column*): Observation = {
    val obs = Observation()
    finish(t, df.observe(obs, metrics.head, metrics.tail: _*))(
      _.write.format("noop").mode("overwrite").save())
    obs
  }

  /** Nanoseconds per item of `f` over the first 5,000 `items`, median of
    * `passes` passes. */
  protected def nsPerItem[A](all: Array[A], passes: Int)(f: A => Int): Double = {
    val items = all.take(5000)
    var sink = 0L
    val t = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      items.foreach(x => sink += f(x))
      (System.nanoTime() - t0).toDouble / items.length
    }.sorted
    if (sink == 42L) println("") // keeps the calls observable to the JIT
    t(t.size / 2)
  }
}

object Workload {
  def apply(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "names_dup"    => new NamesDup(seed, tiny)
    case "names_probe"  => new NamesProbe(seed, tiny)
    case "docs_neardup" => new DocsNearDup(seed, tiny)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The strategy `keyedPairs(strategy = "auto")` resolves to on these inputs. */
  def autoStrategy(left: DataFrame, right: DataFrame): String =
    if (SimJoin.autoStrategy(left, "name", right, "name") == "dedup") "dedup"
    else if (SimJoin.kernelEligible(left, "id", right, "id")) "kernel"
    else "direct"

  /** Median seconds of `SimKernelCore.buildIndex` over the collected right side. */
  def buildIndexSeconds(right: DataFrame): Double = {
    val tokenized = SimKernel.collectTokenized(right, "id", "name")
    val t = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      SimKernelCore.buildIndex(tokenized, 0L)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    t(2)
  }

  /** Largest number of `keys` holding one trigram. */
  def hottestTrigramDf(keys: Array[String]): Long = maxCount(keys.iterator.flatMap(Oracle.trigrams(_)))

  def maxCount[A](xs: Iterator[A]): Long = {
    val n = scala.collection.mutable.HashMap.empty[A, Long]
    xs.foreach(x => n(x) = n.getOrElse(x, 0L) + 1L)
    if (n.isEmpty) 0L else n.valuesIterator.max
  }

  def distinctRatio(keys: Array[String]): Double = keys.distinct.length.toDouble / keys.length

  def pairsSample(rows: Iterator[Row], sample: Set[Long]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).filter(p => sample(p._1)).toSeq

  def checkPairs(
      out: Output, expectedRows: Long, expected: Map[Long, Seq[(Long, Double)]]): Option[String] =
    out match {
      case PairsOut(rows, sample) =>
        val got = sample.groupBy(_._1).map { case (l, ps) => l -> ps.map(p => (p._2, p._3)) }
        val bad = expected.collect {
          case (l, want) if !Oracle.sameTopN(got.getOrElse(l, Nil), want) => l
        }
        if (rows != expectedRows) Some(s"$rows result rows, expected $expectedRows")
        else if (bad.nonEmpty) Some(s"top-n differs from brute force for left ids ${bad.toSeq.sorted.mkString(",")}")
        else None
      case other => Some(s"unexpected output $other")
    }
}

/** The reference's flagship shape: heavily repeated keys, scored on the
  * shuffle-based relational path. */
final class NamesDup(seed: Long, tiny: Boolean) extends Workload {
  val name = "names_dup"
  val why = "flagship 5k x 100k name join with ~4k repeated keys: auto scores distinct keys on " +
    "the shuffle path (token equi-join, hash agg, windowed top-n)"
  private val (nLeft, nRight, topN) = if (tiny) (1000, 20000, 10) else (5000, 100000, 10)
  /** Sliced operations join only the first `warmLeft` left rows. */
  private val warmLeft = nLeft / 10
  private val rnd = new SplittableRandom(seed)
  private val leftKeys = Gen.pooledNames(nLeft, rnd)
  private val rightKeys = Gen.pooledNames(nRight, rnd)
  private val sample: Set[Long] =
    Iterator.continually(rnd.nextInt(warmLeft).toLong).distinct.take(16).toSet
  val rowsPerOp: Long = nLeft
  val warmupOps = 4
  private var left, warm, right: DataFrame = _

  def prepare(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    leftKeys.toSeq.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/left")
    rightKeys.toSeq.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/right")
    left = spark.read.parquet(s"$dir/left")
    warm = left.filter(col("id") < warmLeft)
    right = spark.read.parquet(s"$dir/right")
  }

  def op(i: Int, t: Tracer): () => Output = {
    val l = if (sliced(i)) warm else left
    val df = t.span("operators.SimJoin.keyedPairs")(
      SimJoin.keyedPairs(l, "id", "name", right, "id", "name", SimJoinOptions(topN = topN)))
    val obs = toNoop(t, df, count(lit(1)).as("n"), collect_list(
      when(col("row").isin(sample.toSeq: _*), struct(col("row"), col("col"), col("sim")))).as("s"))
    () => {
      val m = obs.get
      PairsOut(m("n").asInstanceOf[Long], Workload.pairsSample(
        m("s").asInstanceOf[Seq[Row]].iterator, sample))
    }
  }

  private lazy val oracle = new Oracle.RightSide(Array.tabulate(nRight)(_.toLong), rightKeys)
  private lazy val perKey: Map[String, Long] =
    leftKeys.distinct.map(k => k -> oracle.candidates(k, topN)).toMap
  private lazy val expected = sample.iterator.map(l => l -> oracle.topN(leftKeys(l.toInt), topN)).toMap

  def check(i: Int, out: Output): Option[String] = {
    val rows = if (sliced(i)) leftKeys.take(warmLeft) else leftKeys
    Workload.checkPairs(out, rows.iterator.map(perKey).sum, expected)
  }

  def inputs: Seq[(String, Any)] = Seq(
    "left_rows" -> nLeft, "right_rows" -> nRight, "top_n" -> topN,
    "left_distinct_key_ratio" -> Workload.distinctRatio(leftKeys),
    "right_distinct_key_ratio" -> Workload.distinctRatio(rightKeys),
    "auto_strategy" -> Workload.autoStrategy(left, right),
    "hottest_trigram_right_df" -> Workload.hottestTrigramDf(rightKeys))

  def layers(outs: Seq[(Int, Output)]): Seq[(String, Double, String)] = {
    val cand = Oracle.candidatePairs(leftKeys, oracle)
    val kept = outs.map(_._2.rows).sorted.lift(outs.size / 2).getOrElse(0L)
    Seq(
      ("functions.Trigrams.tokenIds_ns", nsPerItem(rightKeys, 5)(Trigrams.tokenIds(_).length), "ns"),
      // the kernel index this right side would broadcast, were keys unique
      ("operators.SimKernelCore.buildIndex_s", Workload.buildIndexSeconds(right), "s"),
      ("operators.SimJoin.candidate_pairs", cand.toDouble, "count"),
      ("operators.SimJoin.kept_per_candidate", if (cand == 0) 0.0 else kept.toDouble / cand, "ratio"))
  }
}

/** Many small lookups against one fixed table of unique names: the
  * broadcast-kernel path, bound by index build and job overhead. */
final class NamesProbe(seed: Long, tiny: Boolean) extends Workload {
  val name = "names_probe"
  val why = "requests of 200 typo'd names against 30k unique names: auto takes the broadcast " +
    "kernel; per-request index build and job overhead, no shuffle"
  private val (nRight, reqRows, topN, pool) = if (tiny) (2000, 50, 5, 64) else (30000, 200, 5, 512)
  private val rnd = new SplittableRandom(seed)
  private val rightKeys = Gen.uniqueNames(nRight, rnd)
  private val reqKeys: Array[String] =
    Array.fill(pool * reqRows)(Gen.typo(rightKeys(rnd.nextInt(nRight)), rnd))
  private val sampleSlots = Iterator.continually(rnd.nextInt(reqRows)).distinct.take(8).toSeq
  private def sample(i: Int): Set[Long] = sampleSlots.map(s => (i % pool).toLong * reqRows + s).toSet
  val rowsPerOp: Long = reqRows
  val warmupOps = 20
  override def sliced(i: Int): Boolean = false // a request is already small
  private var requests, right: DataFrame = _

  def prepare(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    rightKeys.toSeq.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/right")
    reqKeys.toSeq.zipWithIndex.map { case (k, i) => (i / reqRows, i.toLong, k) }
      .toDF("req", "id", "name").write.mode("overwrite").parquet(s"$dir/requests")
    right = spark.read.parquet(s"$dir/right")
    requests = spark.read.parquet(s"$dir/requests")
  }

  private def request(i: Int): DataFrame =
    requests.filter(col("req") === i % pool).select(col("id"), col("name"))

  def op(i: Int, t: Tracer): () => Output = {
    val df = t.span("operators.SimJoin.keyedPairs")(
      SimJoin.keyedPairs(request(i), "id", "name", right, "id", "name", SimJoinOptions(topN = topN)))
    val rows = finish(t, df)(_.collect())
    () => PairsOut(rows.length.toLong, Workload.pairsSample(rows.iterator, sample(i)))
  }

  private lazy val oracle = new Oracle.RightSide(Array.tabulate(nRight)(_.toLong), rightKeys)
  private def reqSlice(i: Int) = reqKeys.slice((i % pool) * reqRows, (i % pool + 1) * reqRows)

  def check(i: Int, out: Output): Option[String] = {
    val keys = reqSlice(i)
    val expected = sample(i).iterator
      .map(l => l -> oracle.topN(reqKeys(l.toInt), topN)).toMap
    Workload.checkPairs(out, keys.iterator.map(oracle.candidates(_, topN)).sum, expected)
  }

  def inputs: Seq[(String, Any)] = Seq(
    "right_rows" -> nRight, "request_rows" -> reqRows, "top_n" -> topN, "request_pool" -> pool,
    "left_distinct_key_ratio" -> Workload.distinctRatio(reqSlice(0)),
    "right_distinct_key_ratio" -> Workload.distinctRatio(rightKeys),
    "auto_strategy" -> Workload.autoStrategy(request(0), right),
    "hottest_trigram_right_df" -> Workload.hottestTrigramDf(rightKeys))

  def layers(outs: Seq[(Int, Output)]): Seq[(String, Double, String)] = {
    val cand = outs.map { case (i, _) => Oracle.candidatePairs(reqSlice(i), oracle) }
    val kept = outs.zip(cand).map { case ((_, o), c) => if (c == 0) 0.0 else o.rows.toDouble / c }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq(
      ("functions.Trigrams.tokenIds_ns", nsPerItem(rightKeys, 5)(Trigrams.tokenIds(_).length), "ns"),
      ("operators.SimKernelCore.buildIndex_s", Workload.buildIndexSeconds(right), "s"),
      ("operators.SimJoin.candidate_pairs", mean(cand.map(_.toDouble)), "count"),
      ("operators.SimJoin.kept_per_candidate", mean(kept), "ratio"))
  }
}

/** The training-data side: MinHash-LSH near-dup pairs, then one survivor
  * per connected component. */
final class DocsNearDup(seed: Long, tiny: Boolean) extends Workload {
  val name = "docs_neardup"
  val why = "20k Zipfian docs, 20% planted near-dups, 30% shared boilerplate: shingling/MinHash, " +
    "the LSH band self-join and the iterative connected-components job floor"
  private val n = if (tiny) 1500 else 20000
  private val threshold = 0.8
  private val rnd = new SplittableRandom(seed)
  private val corpus = Gen.corpus(n, copyShare = 0.2, boilerShare = 0.3, rnd)
  val rowsPerOp: Long = n
  val warmupOps = 2
  /** Sliced operations dedup only the docs with id < `warmDocs`. */
  private val warmDocs = n / 10
  private var docs, warm: DataFrame = _

  def prepare(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    corpus.ids.toSeq.zip(corpus.texts).toDF("id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    docs = spark.read.parquet(s"$dir/docs")
    warm = docs.filter(col("id") < warmDocs)
  }

  def op(i: Int, t: Tracer): () => Output = {
    val in = if (sliced(i)) warm else docs
    val pairs = t.span("operators.Dedup.minHashLshPairs")(
      Dedup.minHashLshPairs(in, "id", "text", threshold))
    val kept = t.span("operators.Dedup.canonicalize")(Dedup.canonicalize(in, "id", pairs))
    val obs = toNoop(t, kept, count(lit(1)).as("n"), collect_list(col("id")).as("ids"))
    () => {
      val m = obs.get
      KeptOut(m("n").asInstanceOf[Long], m("ids").asInstanceOf[Seq[Long]].toArray)
    }
  }

  private lazy val docOfId: Map[Long, Int] = corpus.ids.zipWithIndex.toMap
  private lazy val members: Map[Int, Seq[Int]] = corpus.cluster.indices.groupBy(corpus.cluster(_))
  private lazy val shingleSets = corpus.texts.map(Oracle.shingles)
  /** Copy → Jaccard with its original, by the oracle's own shingler. */
  private lazy val copyJaccard: Map[Int, Double] = corpus.cluster.indices
    .filter(d => corpus.cluster(d) != d)
    .map(d => d -> Oracle.jaccard(shingleSets(d), shingleSets(corpus.cluster(d)))).toMap

  def check(i: Int, out: Output): Option[String] = out match {
    case KeptOut(rows, ids) =>
      val input = (d: Int) => !sliced(i) || corpus.ids(d) < warmDocs
      val kept = ids.flatMap(docOfId.get).toSet
      // no false merges: a dropped doc leaves a kept doc of its own planted cluster
      val orphan = corpus.cluster.indices.find(d =>
        input(d) && !kept(d) && !members(corpus.cluster(d)).exists(kept))
      // copies this close to their original are always merged
      val missed = copyJaccard.find { case (d, j) =>
        j >= 0.97 && input(d) && input(corpus.cluster(d)) && kept(d) && kept(corpus.cluster(d))
      }
      if (rows != ids.length || kept.size != ids.length || !kept.forall(input))
        Some(s"$rows rows, ${kept.size} distinct ids of the input")
      else orphan.map(d => s"doc ${corpus.ids(d)} dropped with no kept doc of its planted cluster")
        .orElse(missed.map { case (d, j) => f"copy ${corpus.ids(d)} (jaccard $j%.3f) kept beside its original" })
    case other => Some(s"unexpected output $other")
  }

  /** Drops every kept doc of one planted cluster. */
  override def corrupt(out: Output): Output = out match {
    case KeptOut(_, ids) if ids.nonEmpty =>
      val c = corpus.cluster(docOfId(ids.head))
      val left = ids.filterNot(id => corpus.cluster(docOfId(id)) == c)
      KeptOut(left.length.toLong, left)
    case other => other
  }

  def inputs: Seq[(String, Any)] = {
    Seq(
      "docs" -> n, "threshold" -> threshold,
      "planted_near_dup_share" -> copyJaccard.size.toDouble / n,
      "planted_jaccard_ge_0.97_share" -> copyJaccard.values.count(_ >= 0.97).toDouble / n,
      "planted_jaccard_ge_threshold_share" -> copyJaccard.values.count(_ >= threshold).toDouble / n,
      "boilerplate_share" -> corpus.hasBoilerplate.count(identity).toDouble / n,
      "hottest_shingle_df" -> Workload.maxCount(shingleSets.iterator.flatMap(_.iterator.asScala)))
  }

  def layers(outs: Seq[(Int, Output)]): Seq[(String, Double, String)] = {
    val shingled = corpus.texts.take(5000).map(TextFunctions.shingles3Array)
    // The audit's exact truth leg is quadratic in hot shingles, so it runs
    // on whole planted clusters drawn until about a tenth of the corpus.
    val auditRnd = new SplittableRandom(seed ^ 0x5eedL)
    val origins = members.keys.toArray.sorted
    val picked = Iterator.continually(origins(auditRnd.nextInt(origins.length)))
      .scanLeft(Set.empty[Int])(_ + _).find(s => s.iterator.map(members(_).size).sum >= n / 10).get
    val sampleIds = picked.toSeq.flatMap(members).map(corpus.ids(_))
    val audit = Dedup.lshAuditReport(docs.filter(col("id").isin(sampleIds: _*)), "id", "text", threshold)
      .head()
    Seq(
      ("functions.TextFunctions.shingles3Array_ns",
        nsPerItem(corpus.texts, 3)(TextFunctions.shingles3Array(_).length), "ns"),
      ("functions.TextFunctions.minHashBandKeys_ns",
        nsPerItem(shingled, 3)(TextFunctions.minHashBandKeys(_).length), "ns"),
      ("operators.Dedup.lsh_candidates", audit.getAs[Long]("n_cand").toDouble, "count"),
      ("operators.Dedup.lsh_precision", audit.getAs[Double]("precision"), "ratio"))
  }
}
