package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.CorpusStats

/**
 * ScalaCheck property suite for [[CorpusStats]]' n-gram and drift families,
 * each checked against a plain-Scala reference at 1 and at 7 shuffle
 * partitions:
 *   - the add-one unigram/bigram/trigram cross-entropies: corpus counts,
 *     `floor(−ln((c+1)/(ctx+V))·1e6)` per n-gram, the per-doc mean, HALF_UP
 *     rounding to 4;
 *   - PSI and KS drift: clamped bins over values that include null, NaN,
 *     ±∞ and out-of-range values;
 *   - collocations: exactly the window-1 skip-gram PMI of
 *     [[CorpusStats.cooccurrence]].
 */
object CorpusStatsProps extends Properties("CorpusStats") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val wordGen: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "the", "quick", "brown", "fox", "The", "FOX!", "3")
  private val docGen: Gen[Option[String]] = Gen.frequency(
    9 -> Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, wordGen)).map(ws => Some(ws.mkString(" "))),
    1 -> Gen.const(None))
  private val docsGen: Gen[List[Option[String]]] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, docGen))

  private val partitions = Seq(1, 7)

  private def atEachPartitioning[T](body: => T): Seq[T] =
    partitions.map(p => withConf("spark.sql.shuffle.partitions" -> p.toString)(body))

  private def docsDf(docs: List[Option[String]]): DataFrame = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  // ---- add-one n-gram cross-entropy ---------------------------------------

  /** [[graft.functions.TextFunctions.wordsCol]]: lower-cased `[a-z]+` runs. */
  private def words(t: Option[String]): Seq[String] =
    t.toSeq.flatMap(s => "[a-z]+".r.findAllIn(s.toLowerCase(Locale.ROOT)).toSeq)

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per doc with at least `n` words: the mean over its n-grams of
    * `floor(−ln((c+1)/(ctx+V))·1e6)` micro-nats, /1e6, rounded to 4. c is the
    * corpus n-gram count, ctx the count of its first n−1 words as a context
    * (the corpus total at n = 1), V the corpus vocabulary size. */
  private def xentReference(docs: List[Option[String]], n: Int): Map[Long, Double] = {
    val ws = docs.map(words)
    def grams(w: Seq[String]) = if (w.size < n) Nil else w.sliding(n).toSeq
    val v = ws.flatten.distinct.size.toLong
    val c = ws.flatMap(grams).groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val ctx = c.groupBy(_._1.init).map { case (k, m) => k -> m.values.sum }
    def q(g: Seq[String]): Long =
      math.floor(-math.log((c(g) + 1).toDouble / (ctx(g.init) + v).toDouble) * 1000000.0).toLong
    ws.zipWithIndex.collect { case (w, i) if grams(w).nonEmpty =>
      val gs = grams(w)
      i.toLong -> round4(gs.map(q).sum.toDouble / (gs.size.toDouble * 1000000.0))
    }.toMap
  }

  private def xents(out: DataFrame): Map[Long, Double] =
    out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  property("unigram, bigram and trigram log-loss equal the add-one reference") =
    forAllNoShrink(docsGen) { docs =>
      val want = (1 to 3).map(xentReference(docs, _))
      atEachPartitioning {
        val d = docsDf(docs)
        Seq(CorpusStats.unigramLogLoss(d, "doc_id", "text"),
          CorpusStats.bigramLogLoss(d, "doc_id", "text"),
          CorpusStats.trigramLogLoss(d, "doc_id", "text")).map(xents)
      }.forall(_ == want)
    }

  // ---- PSI / KS drift -----------------------------------------------------

  private val valueGen: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.choose(-20.0, 30.0).map(Some(_)),
    3 -> Gen.choose(-20, 30).map(i => Some(i.toDouble)),
    1 -> Gen.const(None),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity).map(Some(_)))
  private val sideGen: Gen[List[Option[Double]]] =
    Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, valueGen))
  private val rangeGen: Gen[(Double, Double, Int)] = for {
    lo <- Gen.oneOf(Gen.choose(-10, 5).map(_.toDouble), Gen.choose(-10.0, 5.0))
    width <- Gen.oneOf(Gen.choose(1, 20).map(_.toDouble), Gen.choose(0.5, 20.0))
    nBins <- Gen.choose(1, 6)
  } yield (lo, lo + width, nBins)

  private def valuesDf(vs: List[Option[Double]]): DataFrame = {
    val s = spark; import s.implicits._
    vs.toDF("v")
  }

  /** Per-bin counts: null and NaN dropped, everything else clamped into
    * `[0, nBins)` by `floor((v − lo)/w)`. */
  private def binCounts(vs: List[Option[Double]], lo: Double, hi: Double, nBins: Int): Seq[Long] = {
    val w = (hi - lo) / nBins
    val bins = vs.flatten.filterNot(_.isNaN)
      .map(v => math.min(math.max(math.floor((v - lo) / w).toLong, 0L), nBins - 1L))
    (0 until nBins).map(b => bins.count(_ == b).toLong)
  }

  private def psiReference(
      base: List[Option[Double]], cur: List[Option[Double]],
      lo: Double, hi: Double, nBins: Int): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val (nb, nc) = (binCounts(base, lo, hi, nBins), binCounts(cur, lo, hi, nBins))
    val (tb, tc) = (nb.sum, nc.sum)
    (0 until nBins).map { b =>
      val bm = (nb(b) + 1) * 1000000L / (tb + nBins)
      val cm = (nc(b) + 1) * 1000000L / (tc + nBins)
      val dln = math.floor((math.log(cm.toDouble) - math.log(bm.toDouble)) * 1000000.0).toLong
      (b.toLong, nb(b), nc(b), bm, cm, (cm - bm) * dln / 1000000L)
    }
  }

  private def ksReference(
      base: List[Option[Double]], cur: List[Option[Double]],
      lo: Double, hi: Double, nBins: Int): (Long, Long, Long, Long) = {
    val (nb, nc) = (binCounts(base, lo, hi, nBins), binCounts(cur, lo, hi, nBins))
    val (tb, tc) = (nb.sum, nc.sum)
    val (cb, cc) = (nb.scanLeft(0L)(_ + _).tail, nc.scanLeft(0L)(_ + _).tail)
    val gaps = (0 until nBins).map(b =>
      math.abs(cb(b) * 1000000L / math.max(tb, 1L) - cc(b) * 1000000L / math.max(tc, 1L)))
    val at = gaps.indexOf(gaps.max)
    (tb, tc, gaps(at), at.toLong)
  }

  private def longs(r: Row): Seq[Long] = (0 until r.length).map(r.getLong)

  property("psiDrift and ksDrift equal clamped-bin references over null, NaN and ±∞") =
    forAllNoShrink(sideGen, sideGen, rangeGen) { case (base, cur, (lo, hi, nBins)) =>
      val wantPsi = psiReference(base, cur, lo, hi, nBins)
        .map(t => Seq(t._1, t._2, t._3, t._4, t._5, t._6))
      val wantKs = { val t = ksReference(base, cur, lo, hi, nBins); Seq(Seq(t._1, t._2, t._3, t._4)) }
      atEachPartitioning {
        val (b, c) = (valuesDf(base), valuesDf(cur))
        (CorpusStats.psiDrift(b, c, "v", lo, hi, nBins).collect().map(longs).toSeq.sortBy(_.head),
          CorpusStats.ksDrift(b, c, "v", lo, hi, nBins).collect().map(longs).toSeq)
      }.forall(_ == ((wantPsi, wantKs)))
    }

  // ---- collocations -------------------------------------------------------

  property("collocations equals cooccurrence at window 1") =
    forAllNoShrink(docsGen, Gen.oneOf(1L, 2L, 3L), Gen.oneOf(1, 5, 50)) { (docs, minCount, topK) =>
      def rows(out: DataFrame) =
        out.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      val runs = atEachPartitioning {
        val d = docsDf(docs)
        (rows(CorpusStats.collocations(d, "text", minCount, topK)),
          rows(CorpusStats.cooccurrence(d, "text", 1, minCount, topK)))
      }
      runs.distinct.size == 1 && runs.forall { case (coll, cooc) => coll == cooc }
    }
}
