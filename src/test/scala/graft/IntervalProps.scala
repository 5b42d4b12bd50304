package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.IntervalJoin

/**
 * ScalaCheck property suite for the range-join family: on ARBITRARY
 * point/interval sets (duplicates, touching endpoints, negatives, multiple
 * keys), every physical variant must return exactly the brute-force
 * containment/overlap relation — the bucketed path at any width, the
 * broadcast path, and the first-shared-bucket exactly-once rule (each
 * qualifying pair exactly ONCE, no dedup pass to hide double emission).
 */
object IntervalProps extends Properties("IntervalJoin") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val keyGen: Gen[String] = Gen.oneOf("u", "v", "w")
  private val valGen: Gen[Long] = Gen.chooseNum(-20L, 60L)
  private val pointsGen: Gen[List[(String, Long)]] =
    Gen.choose(1, 15).flatMap(n => Gen.listOfN(n, Gen.zip(keyGen, valGen)))
  private val ivGen: Gen[(String, Long, Long)] =
    Gen.zip(keyGen, valGen, valGen).map { case (k, a, b) =>
      (k, math.min(a, b), math.max(a, b))
    }
  private val ivsGen: Gen[List[(String, Long, Long)]] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, ivGen))
  private val widthGen: Gen[Long] = Gen.oneOf(1L, 3L, 7L, 100L)

  private def pdf(ps: List[(String, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }.toDF("pid", "k", "t")
  }
  private def idf(ivs: List[(String, Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    ivs.zipWithIndex.map { case ((k, a, b), i) => (i.toLong, k, a, b) }
      .toDF("iid", "k", "s", "e")
  }

  property("bucketed and broadcast containment equal brute force at any width") =
    forAllNoShrink(pointsGen, ivsGen, widthGen) { (ps, ivs, width) =>
      val points = pdf(ps)
      val intervals = idf(ivs)
      val brute = (for {
        ((pk, t), pi) <- ps.zipWithIndex
        ((ik, s0, e0), ii) <- ivs.zipWithIndex
        if pk == ik && t >= s0 && t <= e0
      } yield (pi.toLong, ii.toLong)).toSet
      def rows(df: DataFrame) = df.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val bucketed = rows(IntervalJoin.pointInInterval(
        points, "t", intervals, "s", "e", width, Seq("k")))
      val bcast = rows(IntervalJoin.pointInIntervalBroadcast(
        points, "t", intervals, "s", "e", Seq("k")))
      // sets match brute AND no pair is emitted twice by either variant
      bucketed.toSet == brute && bcast.toSet == brute &&
        bucketed.length == brute.size && bcast.length == brute.size
    }

  property("interval overlap equals brute force exactly once at any width") =
    forAllNoShrink(ivsGen, ivsGen, widthGen) { (as, bs, width) =>
      val s = spark; import s.implicits._
      val a = as.zipWithIndex.map { case ((k, x, y), i) => (i.toLong, k, x, y) }
        .toDF("aid", "k", "as", "ae")
      val b = bs.zipWithIndex.map { case ((k, x, y), i) => (i.toLong, k, x, y) }
        .toDF("bid", "k", "bs", "be")
      val brute = (for {
        ((ak, as0, ae0), ai) <- as.zipWithIndex
        ((bk, bs0, be0), bi) <- bs.zipWithIndex
        if ak == bk && as0 <= be0 && bs0 <= ae0
      } yield (ai.toLong, bi.toLong)).toSet
      val out = IntervalJoin.intervalOverlap(a, "as", "ae", b, "bs", "be",
          width, Seq("k"))
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      out.toSet == brute && out.length == brute.size
    }
}
