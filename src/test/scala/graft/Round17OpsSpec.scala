package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Round-17 operator units: PII detection counts, mixed-language halves,
  * and the skew-safe star-CC face of mutual-kNN clustering. */
class Round17OpsSpec extends AnyFunSuite with LocalSpark {

  test("matchCount: zero, single and repeated occurrences per PII class") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "no pii here at all"),
      (2L, "mail a@b.com and c.d@e-f.org please"),
      (3L, "call 555-010-0042 or +49 123-4567-8901"),
      (4L, "see https://x.org/a and http://y.io/b?q=1")
    ).toDF("id", "t")
    val got = df.select(col("id"),
        TextFunctions.matchCount(col("t"), TextFunctions.EmailPattern).as("e"),
        TextFunctions.matchCount(col("t"), TextFunctions.PhonePattern).as("p"),
        TextFunctions.matchCount(col("t"), TextFunctions.UrlPattern).as("u"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (0L, 0L, 0L))
    assert(got(2L) == (2L, 0L, 0L))
    assert(got(3L) == (0L, 2L, 0L))
    assert(got(4L) == (0L, 0L, 2L))
  }

  test("langId halves: a German tail flips lang_tail while lang_head stays en") {
    val s = spark; import s.implicits._
    // head half is English-stopword-bearing salad; tail half carries the
    // synthesized German phrase — the text_langid_mixed gate's verdict shape
    val text = "the a of and to in is it pad pad und der die das ist nicht und der die das ist nicht"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val half = expr("substring(text, 1, CAST(length(text)/2 AS INT))")
    val tail = expr("substring(text, CAST(length(text)/2 AS INT) + 1)")
    val row = df.select(
      TextFunctions.langIdCol(TextFunctions.wordsCol(half)).as("h"),
      TextFunctions.langIdCol(TextFunctions.wordsCol(tail)).as("t")).head()
    assert(row.getString(0) == "en")
    assert(row.getString(1) == "de")
  }

  test("StreamScrub normalizes BEFORE redacting: a newline-split phone is caught") {
    val s = spark; import s.implicits._
    // "555\n010 0042" matches the phone pattern only after whitespace
    // collapses — redact-first would miss it (and a second pass would then
    // catch it, breaking idempotence; the order regression r17 fixed)
    val df = Seq((1L, "call 555\n010 0042 now")).toDF("doc_id", "text")
    val row = graft.streaming.StreamScrub.scrub(df, "doc_id", "text").head()
    assert(row.getLong(1) == 1L)
    val clean = df.select(
      graft.streaming.StreamScrub.scrubbedCol(col("text")).as("c")).head().getString(0)
    assert(clean == "call <PHONE> now")
  }

  test("mutualKnnClusters: skewSafe=true labels are identical to the fused path") {
    val s = spark; import s.implicits._
    // deterministic fixture: 24 vectors in 3 tight direction groups, so the
    // mutual-kNN graph has clear structure; both physical shapes must agree
    val vecs = (0 until 24).map { i =>
      val g = i % 3
      val base = Array.tabulate(8)(d => if (d == g) 10.0f else 0.0f)
      base(3 + g) = 1.0f + (i / 3) * 0.01f
      (i.toLong, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val fused = Dedup.mutualKnnClusters(df, "vec_id", "embedding", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val safe = Dedup.mutualKnnClusters(df, "vec_id", "embedding", 3, skewSafe = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == safe)
    assert(fused.size == 24)
  }
}
