package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Round-17 optimization specs: internals that moved (distributed power loop
  * → driver-side integer loop over the collected ≤ dims² co-moment cells)
  * must keep the exact result and edge semantics of the former shape. */
class Round17OptSpec extends AnyFunSuite with LocalSpark {

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("powerIteration: empty input yields an empty direction (former inner-join key semantics)") {
    val out = Embeddings.powerIteration(
      vecs(Seq.empty), "embedding", dims = 4, nIters = 3)
    assert(out.columns.toSeq == Seq("dim", "v_micro"))
    assert(out.count() == 0L)
  }

  test("powerIteration: vectors shorter than dims are excluded, like the former where-filter") {
    val out = Embeddings.powerIteration(
      vecs(Seq((1L, Seq(1f, 2f)), (2L, Seq(3f)))), "embedding", dims = 4, nIters = 2)
    assert(out.count() == 0L)
  }

  test("directionDrift of a corpus against itself is exactly cos_micro = 10^6") {
    val data = vecs(Seq(
      (1L, Seq(3f, 1f, 0f, 0f)), (2L, Seq(2.5f, 0.5f, 0.1f, 0f)),
      (3L, Seq(3.2f, 1.1f, -0.2f, 0.1f)), (4L, Seq(2.8f, 0.9f, 0f, -0.1f))))
    val r = Embeddings.directionDrift(data, data, "embedding", dims = 4, nIters = 3).head()
    assert(r.getLong(0) == 1000000L) // floor(1.0 * 1e6)
    assert(r.getLong(2) == r.getLong(3)) // na == nb for identical sides
  }

  test("secondComponent result is deterministic across repeated invocations") {
    val data = vecs((0 until 40).map { i =>
      (i.toLong, Seq(i.toFloat, (i % 7).toFloat, ((i * 3) % 5).toFloat, 1f))
    })
    val a = Embeddings.secondComponent(data, "embedding", dims = 4, nIters = 3)
      .orderBy("dim").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Embeddings.secondComponent(data, "embedding", dims = 4, nIters = 3)
      .orderBy("dim").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b && a.size == 4)
  }
}
