package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-14 additions: incremental IVF assignment against a
  * persisted trained quantizer. */
class Round14OpsSpec extends AnyFunSuite with LocalSpark {

  private def emb(rows: (Long, Seq[Float])*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding")
  }

  // A tiny separable fixture: two well-separated directions in 4-d.
  private def fixture = emb(
    0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.9f, 0.1f, 0f, 0f),
    2L -> Seq(0f, 0f, 1f, 0f), 3L -> Seq(0f, 0.1f, 0.9f, 0f),
    4L -> Seq(0.95f, 0.05f, 0f, 0f), 5L -> Seq(0f, 0.05f, 0.95f, 0f),
    6L -> Seq(0.8f, 0.2f, 0f, 0f), 7L -> Seq(0f, 0.2f, 0.8f, 0f))

  test("ivfAssign on the training slice reproduces the fused kmeansAssign") {
    val df = fixture
    val ivf = SimSearch.ivfTrainModel(df, "vec_id", "embedding", nList = 2, nIters = 1)
    val incr = SimSearch.ivfAssign(df, "vec_id", "embedding", ivf)
      .select(col("vec_id"), col("list"), col("cos_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fused = SimSearch.kmeansAssign(df, "vec_id", "embedding", k = 2, nIters = 1)
      .select(col("vec_id"), col("cluster"), col("cos_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr == fused)
  }

  test("ivfAssign routes a new batch to the nearest trained centroid without retraining") {
    val train = fixture
    val ivf = SimSearch.ivfTrainModel(train, "vec_id", "embedding", nList = 2, nIters = 1)
    // new crawl increment: clearly in the second cluster's direction + a
    // null and a zero-norm row (dropped by the shared eligibility contract)
    val batch = emb(
      100L -> Seq(0f, 0f, 0.99f, 0.01f),
      101L -> Seq(0.99f, 0.01f, 0f, 0f),
      102L -> Seq(0f, 0f, 0f, 0f))
      // a REAL null-embedding row (r14 ADVICE: the old `.limit(0)` union
      // contributed zero rows, so the null path was never exercised)
      .union(spark.range(1).select(lit(103L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val out = SimSearch.ivfAssign(batch, "vec_id", "embedding", ivf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(100L, 101L)) // zero-norm row dropped
    assert(out(100L) != out(101L))        // opposite directions, different lists
    // and the batch assignment agrees with what full retraining-with-the-same
    // -centroids would say: seed cluster of vec 0 is list 0 (smallest id)
    val trainAsg = SimSearch.ivfAssign(train, "vec_id", "embedding", ivf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(101L) == trainAsg(0L))
    assert(out(100L) == trainAsg(2L))
  }
}
