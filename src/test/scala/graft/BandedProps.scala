package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.functions.TextFunctions
import graft.operators.{Decontaminate, Dedup}

/**
 * ScalaCheck property suite for the cross-table MinHash-LSH near-dup path:
 * [[Dedup.minHashLshPairsBetween]] and [[Decontaminate.fuzzyFlagged]] must
 * both equal a reference computed in the test on ARBITRARY documents —
 * every (A-row, B-row) pair sharing a [[TextFunctions.minHashBandKeys]] key
 * in the same band, scored by exact Jaccard of the
 * [[TextFunctions.shingles3Array]] sets, kept at or above the threshold,
 * rounded to 6.
 */
object BandedProps extends Properties("BandedCross") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val wordGen: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "the", "quick", "brown", "fox")
  private val docGen: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  /** Side A, then side B: each B doc is fresh or a one-word edit of an A doc,
    * so band collisions (and pairs below every threshold) actually occur. */
  private val sidesGen: Gen[(List[String], List[String])] = for {
    a <- Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, docGen))
    edit = for { d <- Gen.oneOf(a); w <- wordGen; tail <- Gen.oneOf(true, false) }
      yield if (tail) s"$d $w" else s"$w $d"
    b <- Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(docGen, edit, Gen.oneOf(a))))
  } yield (a, b)

  private val thresholdGen: Gen[Double] =
    Gen.oneOf(Gen.const(0.0), Gen.const(1.0), Gen.choose(0.0, 1.0))

  private def df(docs: List[String]): DataFrame = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def reference(a: List[String], b: List[String], t: Double): Seq[(Long, Long, Double)] = {
    def sets(docs: List[String]) = docs.zipWithIndex.map { case (d, i) =>
      (i.toLong, TextFunctions.shingles3Array(d))
    }.filter(_._2.nonEmpty)
    for {
      (ia, sa) <- sets(a)
      (ib, sb) <- sets(b)
      if TextFunctions.minHashBandKeys(sa).zip(TextFunctions.minHashBandKeys(sb))
        .exists { case (x, y) => x == y }
      inter = sa.toSet.intersect(sb.toSet).size
      j = inter.toDouble / (sa.length + sb.length - inter).toDouble
      if j >= t
    } yield (ia, ib, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }.sorted

  private def triples(out: DataFrame): Seq[(Long, Long, Double)] =
    out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  property("minHashLshPairsBetween and fuzzyFlagged equal the band-key reference") =
    forAllNoShrink(sidesGen, thresholdGen) { case ((a, b), t) =>
      val want = reference(a, b, t)
      triples(Dedup.minHashLshPairsBetween(df(a), "doc_id", "text", df(b), "doc_id", "text", t)) ==
        want &&
        triples(Decontaminate.fuzzyFlagged(df(a), "doc_id", "text", df(b), "doc_id", "text", t)) ==
          want
    }
}
