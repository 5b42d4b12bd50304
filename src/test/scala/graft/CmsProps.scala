package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusStats

/** Properties of the count-min sketch family: per-row mass conservation,
  * the one-sided estimate bound (est ≥ exact, always), exactness when a
  * word collides with nothing in some hash row, and merge algebra
  * (sketch(A ∪ B) = cell-wise sum of sketch(A) + sketch(B)). */
class CmsProps extends AnyFunSuite with LocalSpark {

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val corpus = Seq(
    (1L, "the cat sat on the mat the cat"),
    (2L, "the dog ate the bone"),
    (3L, "cat and dog and cat"),
    (4L, ""),
    (5L, "zz yy xx zz zz"))

  private def words(df: DataFrame): DataFrame =
    df.select(explode(graft.functions.TextFunctions.wordsCol(col("text"))).as("word"))

  test("sketch conserves total mass in every hash row") {
    val w = words(docsDf(corpus))
    val total = w.count()
    val sk = CorpusStats.cmsSketch(w, "word", width = 64, depth = 4)
    val perRow = sk.groupBy("j").agg(sum("c").as("mass")).collect()
    assert(perRow.length == 4)
    perRow.foreach(r => assert(r.getAs[Long]("mass") == total))
  }

  test("estimate is a one-sided bound: est_count >= exact for every word") {
    val w = words(docsDf(corpus))
    // deliberately tiny width to force collisions
    val sk = CorpusStats.cmsSketch(w, "word", width = 4, depth = 3)
    val est = CorpusStats.cmsEstimate(sk, w, "word", width = 4, depth = 3)
    val exact = w.groupBy("word").agg(count(lit(1)).as("exact"))
    val joined = est.join(exact, "word").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("est_count") >= r.getAs[Long]("exact"),
        s"word ${r.getAs[String]("word")}")
    }
  }

  test("wide sketch recovers exact counts (no collisions at width >> vocab)") {
    val w = words(docsDf(corpus))
    val vocab = w.distinct().count()
    val sk = CorpusStats.cmsSketch(w, "word", width = 8192, depth = 4)
    val est = CorpusStats.cmsEstimate(sk, w, "word", width = 8192, depth = 4)
    val exact = w.groupBy("word").agg(count(lit(1)).as("exact"))
    val mismatched = est.join(exact, "word")
      .where(col("est_count") =!= col("exact")).count()
    // min-of-4-rows at width 8192 over a ~12-word vocab: a collision in ALL
    // four rows simultaneously would be needed to inflate the estimate
    assert(mismatched == 0, s"vocab $vocab had $mismatched inflated estimates")
  }

  test("sketches merge by cell-wise sum: sketch(A++B) == merge(sketch(A), sketch(B))") {
    val (a, b) = corpus.splitAt(2)
    val wAll = words(docsDf(corpus))
    val skAll = CorpusStats.cmsSketch(wAll, "word", width = 32, depth = 3)
    val merged = CorpusStats.cmsSketch(words(docsDf(a)), "word", 32, 3)
      .unionAll(CorpusStats.cmsSketch(words(docsDf(b)), "word", 32, 3))
      .groupBy("j", "b").agg(sum("c").as("c"))
    assert(skAll.exceptAll(merged).isEmpty && merged.exceptAll(skAll).isEmpty)
  }

  test("cmsTopTokens is deterministically ordered and bounded by topK") {
    val out = CorpusStats.cmsTopTokens(docsDf(corpus), "text",
      width = 1024, depth = 4, topK = 3).collect()
    assert(out.length == 3)
    val counts = out.map(_.getAs[Long]("est_count"))
    assert(counts.sameElements(counts.sortBy(-_)))
    // "the" appears 5 times — must head the list at collision-free width
    assert(out.head.getAs[String]("word") == "the" && counts.head == 5L)
  }
}
