package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.SimSearch

/**
 * ScalaCheck properties for the round-14 incremental-IVF face: on ARBITRARY
 * vector sets, assigning the training slice to its own trained quantizer
 * must reproduce the fused train-and-assign path exactly (same cluster, same
 * floored cosine), and assignment must be a total function over eligible
 * rows (one output per non-null non-zero input, lists within range).
 */
object Round14Props extends Properties("Round14") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  // small integer-grid components keep cosines well-conditioned (no
  // denormals, deterministic across IEEE engines)
  private val compGen: Gen[Float] = Gen.choose(-4, 4).map(_.toFloat)
  private val vecGen: Gen[Seq[Float]] = Gen.listOfN(4, compGen).map(_.toSeq)
  private val setGen: Gen[List[Seq[Float]]] =
    Gen.choose(5, 24).flatMap(n => Gen.listOfN(n, vecGen))

  private def df(vs: List[Seq[Float]]): DataFrame = {
    val s = spark; import s.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
  }

  property("ivfAssign(train slice) == fused kmeansAssign, any vectors") =
    forAllNoShrink(setGen, Gen.choose(1, 4), Gen.choose(0, 2)) { (vs, k, iters) =>
      val d = df(vs)
      // guard: training needs >= 1 eligible (non-zero) seed among the k
      // smallest ids — mirror the operator's own precondition (the seed
      // window is ids 0..k-1, so guard exactly that window: an all-zero
      // FIRST vector with k = 1 would otherwise still crash — ADVICE r14)
      val eligible = vs.take(k).exists(_.exists(_ != 0f))
      !eligible || {
        val ivf = SimSearch.ivfTrainModel(d, "vec_id", "embedding", nList = k, nIters = iters)
        val incr = SimSearch.ivfAssign(d, "vec_id", "embedding", ivf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val fused = SimSearch.kmeansAssign(d, "vec_id", "embedding", k = k, nIters = iters)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        incr == fused
      }
    }

  property("ivfAssign is total over eligible rows with in-range lists") =
    forAllNoShrink(setGen) { vs =>
      val eligibleIds = vs.zipWithIndex.collect {
        case (v, i) if v.exists(_ != 0f) => i.toLong
      }.toSet
      // seed window = the nList smallest ids (nList = 3 below) — see above
      eligibleIds.isEmpty || !vs.take(3).exists(_.exists(_ != 0f)) || {
        val d = df(vs)
        val ivf = SimSearch.ivfTrainModel(d, "vec_id", "embedding", nList = 3, nIters = 1)
        val out = SimSearch.ivfAssign(d, "vec_id", "embedding", ivf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        out.keySet == eligibleIds &&
          out.values.forall(l => l >= 0 && l < ivf.cents.length)
      }
    }
}
