package graft

import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.Bm25

/**
 * ScalaCheck property suite for [[Bm25]]'s ranked faces, each checked
 * against a plain-Scala reference at 1 and at 7 shuffle partitions:
 *   - BM25: micro-nat idf `floor(ln((N − df + 0.5)/(df + 0.5) + 1)·1e6)`,
 *     floored per-posting impacts, integer sums per (query, doc) and a
 *     (score desc, doc asc) ranking — for [[Bm25.topK]], [[Bm25.topKIndexed]],
 *     [[Bm25.topKMaxScore]] and [[Bm25.impactIndex]] +
 *     [[Bm25.topKMaxScoreIndexed]];
 *   - Dirichlet query likelihood ([[Bm25.topKQl]]): floored present-term and
 *     per-doc length components, summed and ranked the same way;
 *   - MaxScore pruning equals the exhaustive ranking on uniform-vocabulary
 *     corpora.
 * Spark's `ln` is `StrictMath.log`, so the reference uses it too, with the
 * operators' double expression trees.
 */
object Bm25Props extends Properties("Bm25") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  // Skewed vocabulary: common words give near-zero idf and rare words a wide
  // impact spread, so MaxScore takes both its pruned and its exhaustive shape.
  private val wordGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("the", "of", "and"),
    3 -> Gen.oneOf("alpha", "beta", "gamma", "delta"),
    1 -> Gen.oneOf("epsilon", "zeta", "eta", "theta", "The", "FOX!", "3"))
  private val textGen: Gen[Option[String]] = Gen.frequency(
    9 -> Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, wordGen)).map(ws => Some(ws.mkString(" "))),
    1 -> Gen.const(None))
  private val queryGen: Gen[Option[String]] = Gen.frequency(
    9 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.frequency(8 -> wordGen, 1 -> Gen.const("zulu"))))
      .map(ws => Some(ws.mkString(" "))),
    1 -> Gen.const(None))

  private case class Case(
      docs: List[Option[String]], queries: List[Option[String]],
      k: Int, k1: Double, b: Double, mu: Double)

  private val caseGen: Gen[Case] = for {
    nd <- Gen.choose(1, 16)
    docs <- Gen.listOfN(nd, textGen)
    nq <- Gen.choose(1, 4)
    queries <- Gen.listOfN(nq, queryGen)
    k <- Gen.choose(1, 5)
    k1 <- Gen.oneOf(1.2, 0.5, 2.0)
    b <- Gen.oneOf(0.75, 0.0, 1.0)
    mu <- Gen.oneOf(300.0, 10.0, 2000.0)
  } yield Case(docs, queries, k, k1, b, mu)

  private val partitions = Seq(1, 7)

  private def atEachPartitioning[T](body: => T): Seq[T] =
    partitions.map(p => withConf("spark.sql.shuffle.partitions" -> p.toString)(body))

  private def textsDf(texts: List[Option[String]], idCol: String, base: Long): DataFrame = {
    val s = spark; import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (base + i, t) }.toDF(idCol, "text")
  }

  private val QidBase = 100L

  // ---- reference ------------------------------------------------------------

  /** [[graft.functions.TextFunctions.wordsCol]]: lower-cased `[a-z]+` runs. */
  private def words(t: Option[String]): Seq[String] =
    t.toSeq.flatMap(s => "[a-z]+".r.findAllIn(s.toLowerCase(Locale.ROOT)).toSeq)

  private case class Posting(d: Long, dl: Long, w: String, tf: Long)

  /** [[Bm25.index]]: one posting per (doc, term) of every doc with ≥ 1 word. */
  private def postings(docs: List[Option[String]]): Seq[Posting] =
    docs.zipWithIndex.flatMap { case (t, i) =>
      val ws = words(t)
      ws.groupBy(identity).toSeq.map { case (w, g) => Posting(i.toLong, ws.size.toLong, w, g.size.toLong) }
    }

  private def micro(x: Double): Long = math.floor(x * 1000000.0).toLong

  /** (query id, distinct query terms). */
  private def queryTerms(queries: List[Option[String]]): Seq[(Long, Seq[String])] =
    queries.zipWithIndex.map { case (t, i) => (QidBase + i, words(t).distinct) }

  /** Per query, the `k` best (doc, score) by (score desc, doc asc), 1-based
    * rank: (query_id, doc_id, score_micro, rank), sorted. */
  private def rankTopK(scores: Seq[(Long, Long, Long)], k: Int): Seq[(Long, Long, Long, Long)] =
    scores.groupBy(_._1).toSeq.flatMap { case (q, xs) =>
      xs.sortBy { case (_, d, s) => (-s, d) }.take(k).zipWithIndex
        .map { case ((_, d, s), i) => (q, d, s, i + 1L) }
    }.sorted

  /** Per (query, doc sharing ≥ 1 query term): Σ of `contrib` over the shared
    * terms' postings, plus `perDoc`. */
  private def scored(
      ps: Seq[Posting], queries: List[Option[String]],
      contrib: Posting => Long, perDoc: (Int, Long) => Long): Seq[(Long, Long, Long)] =
    queryTerms(queries).flatMap { case (q, ts) =>
      ps.filter(p => ts.contains(p.w)).groupBy(_.d).toSeq.map { case (d, hits) =>
        (q, d, hits.map(contrib).sum + perDoc(ts.size, hits.head.dl))
      }
    }

  private def bm25Reference(c: Case): Seq[(Long, Long, Long, Long)] = {
    val ps = postings(c.docs)
    val nd = ps.map(_.d).distinct.size.toLong
    val tw = ps.map(p => p.d -> p.dl).distinct.map(_._2).sum
    val df = ps.groupBy(_.w).map { case (w, g) => w -> g.size.toLong }
    def idf(w: String): Long = micro(StrictMath.log(
      (nd.toDouble - df(w).toDouble + 0.5) / (df(w).toDouble + 0.5) + 1.0))
    def impact(p: Posting): Long =
      math.floor(idf(p.w).toDouble * (p.tf.toDouble * (c.k1 + 1.0) /
        (p.tf.toDouble + c.k1 * ((1.0 - c.b) + c.b *
          (p.dl.toDouble / (tw.toDouble / nd.toDouble)))))).toLong
    rankTopK(scored(ps, c.queries, impact, (_, _) => 0L), c.k)
  }

  private def qlReference(c: Case): Seq[(Long, Long, Long, Long)] = {
    val ps = postings(c.docs)
    val cf = ps.groupBy(_.w).map { case (w, g) => w -> g.map(_.tf).sum }
    val total = ps.map(_.tf).sum
    def present(p: Posting): Long =
      micro(StrictMath.log(1.0 + (p.tf * total).toDouble / (c.mu * cf(p.w).toDouble)))
    def lengthPart(nq: Int, dl: Long): Long =
      nq * micro(StrictMath.log(c.mu / (dl.toDouble + c.mu)))
    rankTopK(scored(ps, c.queries, present, lengthPart), c.k)
  }

  private def ranked(out: DataFrame): Seq[(Long, Long, Long, Long)] = {
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    spark.sharedState.cacheManager.clearCache()
    rows.sorted
  }

  // ---- faces ----------------------------------------------------------------

  property("topK, topKIndexed, topKMaxScore and topKMaxScoreIndexed equal the BM25 reference") =
    forAllNoShrink(caseGen) { c =>
      val want = bm25Reference(c)
      atEachPartitioning {
        val docs = textsDf(c.docs, "doc_id", 0L)
        val queries = textsDf(c.queries, "query_id", QidBase)
        val idx = Bm25.index(docs, "doc_id", "text")
        Seq(
          ranked(Bm25.topK(docs, "doc_id", "text", queries, "query_id", "text", c.k, c.k1, c.b)),
          ranked(Bm25.topKIndexed(idx, queries, "query_id", "text", c.k, c.k1, c.b)),
          ranked(Bm25.topKMaxScore(idx, queries, "query_id", "text", c.k, c.k1, c.b)),
          ranked(Bm25.topKMaxScoreIndexed(Bm25.impactIndex(idx, c.k1, c.b),
            queries, "query_id", "text", c.k)))
      }.flatten.forall(_ == want)
    }

  property("topKQl equals the Dirichlet query-likelihood reference") =
    forAllNoShrink(caseGen) { c =>
      val want = qlReference(c)
      atEachPartitioning {
        val docs = textsDf(c.docs, "doc_id", 0L)
        val queries = textsDf(c.queries, "query_id", QidBase)
        ranked(Bm25.topKQl(docs, "doc_id", "text", queries, "query_id", "text", c.k, c.mu))
      }.forall(_ == want)
    }

  // ---- MaxScore on a uniform vocabulary -------------------------------------

  private val uniformWordGen: Gen[String] =
    Gen.oneOf("alpha", "beta", "gamma", "delta", "echo", "fox", "golf", "hotel")
  private val uniformDocGen: Gen[String] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, uniformWordGen)).map(_.mkString(" "))
  private val uniformCorpusGen: Gen[List[String]] =
    Gen.choose(4, 20).flatMap(n => Gen.listOfN(n, uniformDocGen))

  property("topKMaxScore ≡ topKIndexed on random corpora and queries") =
    forAllNoShrink(uniformCorpusGen, Gen.choose(1, 3), Gen.choose(1, 6)) { (texts, nq, k) =>
      val docs = textsDf(texts.map(Some(_)), "doc_id", 0L)
      val queries = docs.filter(col("doc_id") < nq)
      val idx = Bm25.index(docs, "doc_id", "text")
      ranked(Bm25.topKMaxScore(idx, queries, "doc_id", "text", k)) ==
        ranked(Bm25.topKIndexed(idx, queries, "doc_id", "text", k))
    }
}
