package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-15 additions: the Catalyst-expression IVF probe
  * (no-RDD plan shape), the ivfDrift retrain-trigger monitor, and the
  * streaming IVF assignment face. */
class Round15OpsSpec extends AnyFunSuite with LocalSpark {

  private def emb(rows: (Long, Seq[Float])*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def fixture = emb(
    0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.9f, 0.1f, 0f, 0f),
    2L -> Seq(0f, 0f, 1f, 0f), 3L -> Seq(0f, 0.1f, 0.9f, 0f),
    4L -> Seq(0.95f, 0.05f, 0f, 0f), 5L -> Seq(0f, 0.05f, 0.95f, 0f))

  test("ivfAssign plan stays a Dataset plan: no RDD scan, probe in a Generate") {
    val df = fixture
    val ivf = SimSearch.ivfTrainModel(df, "vec_id", "embedding", nList = 2, nIters = 1)
    val plan = SimSearch.ivfAssign(df, "vec_id", "embedding", ivf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("ivf_assign"), plan)
    assert(plan.contains("Generate"), plan) // explode(array(probe)) single-eval barrier
  }

  test("ivfAssign rejects a non-array<float> vector column at plan time") {
    val sp = spark
    import sp.implicits._
    val df = fixture
    val ivf = SimSearch.ivfTrainModel(df, "vec_id", "embedding", nList = 2, nIters = 1)
    // array<double> would read as garbage through the raw-float probe — must
    // fail loudly before any task runs (ADVICE r15)
    val dbl = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      SimSearch.ivfAssign(dbl, "vec_id", "embedding", ivf)
    }
    assert(ex.getMessage.contains("array<float>") &&
      ex.getMessage.contains("array<double>"))
  }

  test("ivfDrift: exact per-list integer means; one-sided lists keep a row") {
    // train defines two opposite-direction seeds; batch hits only cluster 0's
    // direction, so cluster 1 is train-only (batch side count 0, null means)
    val train = emb(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0.9f, 0.1f, 0f, 0f))
    val batch = emb(
      10L -> Seq(1f, 0f, 0f, 0f), 11L -> Seq(0.8f, 0.2f, 0f, 0f))
    val ivf = SimSearch.ivfTrainModel(train, "vec_id", "embedding", nList = 2, nIters = 0)
    val out = SimSearch.ivfDrift(train, batch, "vec_id", "embedding", ivf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
         r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
         if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(out.keySet == Set(0L, 1L))
    // cross-check against the assignment relation itself
    def sideStats(df: org.apache.spark.sql.DataFrame) =
      SimSearch.ivfAssign(df, "vec_id", "embedding", ivf)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (l, xs) =>
          l -> (xs.size.toLong, xs.map(_._2).sum / xs.size) }
    val ts = sideStats(train)
    val bs = sideStats(batch)
    assert(out(0L)._1 == ts(0L)._1 && out(0L)._2.contains(ts(0L)._2))
    assert(out(0L)._3 == bs(0L)._1 && out(0L)._4.contains(bs(0L)._2))
    assert(out(0L)._5.contains(bs(0L)._2 - ts(0L)._2))
    // list 1: train-only — batch count 0, batch mean and delta null
    assert(out(1L)._1 == ts(1L)._1 && out(1L)._2.contains(ts(1L)._2))
    assert(out(1L)._3 == 0L && out(1L)._4.isEmpty && out(1L)._5.isEmpty)
  }

  test("incremental IVFADC: union of train+batch encodings == whole-corpus encoding, searches equal") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    val all = (0L until 60L).map(i => (i, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val train = all.filter(col("vec_id") % 10 < 8)
    val batch = all.filter(col("vec_id") % 10 >= 8)
    val ivf = SimSearch.ivfTrainModel(train, "vec_id", "embedding", nList = 4, nIters = 1)
    val pq = SimSearch.pqTrainModel(train, "vec_id", "embedding", nSub = 4, ksub = 8, nIters = 1)
    def canonEnc(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("list"), hex(col("codes")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val unioned = SimSearch.ivfPqEncode(train, "vec_id", "embedding", ivf, pq)
      .union(SimSearch.ivfPqEncode(batch, "vec_id", "embedding", ivf, pq))
    val whole = SimSearch.ivfPqEncode(all, "vec_id", "embedding", ivf, pq)
    // per-row deterministic encoding => growing the index incrementally IS
    // the whole-corpus index
    assert(canonEnc(unioned) == canonEnc(whole))
    def search(enc: org.apache.spark.sql.DataFrame) =
      SimSearch.ivfPqSearchEncoded(enc, "id", "list", "codes",
          all.filter(col("vec_id") < 5), "vec_id", "embedding",
          ivf, pq, 3, nProbe = 2, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(search(unioned) == search(whole))
  }

  test("ivfAssign handles null / zero-norm / null-element vectors by dropping") {
    val sp = spark
    import sp.implicits._
    val ivf = SimSearch.ivfTrainModel(fixture, "vec_id", "embedding", nList = 2, nIters = 0)
    val weird = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),
      (101L, Seq(0f, 0f, 0f, 0f))) // zero-norm
      .toDF("vec_id", "embedding")
      .union(sp.range(1).select(lit(102L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
      .union(sp.range(1).select(lit(103L).as("vec_id"),
        array(lit(1f), lit(null).cast("float"), lit(0f), lit(0f)).as("embedding")))
    val out = SimSearch.ivfAssign(weird, "vec_id", "embedding", ivf)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(100L))
  }
}
