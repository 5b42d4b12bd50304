package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Round-18 optimization specs — parity pins for the shapes that moved:
  * the skewSafe aggregate+join fallback of the window-based distinct-doc
  * counts must be row-identical to the window form on every consumer, and
  * the compiled CDC boundary loop must agree with the former expression
  * shape's arithmetic on edge inputs. */
class Round18OptSpec extends AnyFunSuite with LocalSpark {

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // duplicated lines/chunks across docs, blank lines, a null text, a doc
  // whose every line is unique, and repeated lines WITHIN one doc
  private val fixture = docs(Seq(
    1L -> "shared line one\n\nunique a\nshared line two",
    2L -> "shared line one\nunique b\n\nshared line two",
    3L -> "unique c1\nunique c2\n\n",
    4L -> "shared line one\nshared line one\nunique d",
    5L -> null.asInstanceOf[String],
    6L -> "the quick brown fox jumps over the lazy dog again and again " * 8))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    // catalogString: ignore nullability flags — the two shapes legitimately
    // differ there (e.g. collect_list output vs array_distinct(concat(...)))
    assert(a.schema.map(f => (f.name, f.dataType.catalogString)) ===
      b.schema.map(f => (f.name, f.dataType.catalogString)))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("paragraphDedup: skewSafe aggregate+join parity with the window form") {
    assertSame(
      Dedup.paragraphDedup(fixture, "doc_id", "text", 2),
      Dedup.paragraphDedup(fixture, "doc_id", "text", 2, skewSafe = true))
  }

  test("chunkDedup: skewSafe parity, both keepFirst faces") {
    assertSame(
      Dedup.chunkDedup(fixture, "doc_id", "text", 5, 2),
      Dedup.chunkDedup(fixture, "doc_id", "text", 5, 2, skewSafe = true))
    assertSame(
      Dedup.chunkDedup(fixture, "doc_id", "text", 5, 2, keepFirst = true),
      Dedup.chunkDedup(fixture, "doc_id", "text", 5, 2, keepFirst = true,
        skewSafe = true))
  }

  test("cdcChunks: skewSafe parity with the window form") {
    assertSame(
      Dedup.cdcChunks(fixture, "doc_id", "text", 8, 16, 2),
      Dedup.cdcChunks(fixture, "doc_id", "text", 8, 16, 2, skewSafe = true))
  }

  test("lineRuleClean: skewSafe parity with the window form") {
    assertSame(
      Dedup.lineRuleClean(fixture, "doc_id", "text", 2, 2L),
      Dedup.lineRuleClean(fixture, "doc_id", "text", 2, 2L, skewSafe = true))
  }

  test("cdcChunks: compiled boundary loop matches the former expression shape") {
    // the former shape, verbatim: filter(sequence(w, len), i -> (Σ
    // element_at(cs, i-j)·b^j) % P % m = m-1) over split+ascii codes
    val (w, m) = (8, 16)
    val P = 1000000007L
    val pow = Array.iterate(1L, w)(x => x * 257L % P)
    val hsum = (0 until w).map(j => s"element_at(__cs, CAST(i - $j AS INT)) * ${pow(j)}L")
      .mkString(" + ")
    val input = fixture.where(col("text").isNotNull && length(col("text")) > 0)
    val expected = input
      .select(col("doc_id"), expr("transform(split(text, ''), ch -> ascii(ch))").as("__cs"),
        length(col("text")).as("__len"))
      .select(col("doc_id"), expr(
        s"""CASE WHEN __len >= $w THEN
              filter(sequence(CAST($w AS BIGINT), CAST(__len AS BIGINT)),
                     i -> ($hsum) % $P % $m = ${m - 1})
            ELSE array() END""").as("bs"))
    // recover the actual boundary sets from cdcChunks' chunk spans: each
    // chunk's end (start + len - 1) is a boundary; drop the forced
    // end-of-doc boundary only when the hash did not also fire there —
    // instead compare via the chunk decomposition both ways
    val viaChunks = Dedup.cdcChunks(input, "doc_id", "text", w, m, 2)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("chunk_start") + col("chunk_len") - 1)).as("ends"))
    val viaExpr = expected
      .join(input.select(col("doc_id"), length(col("text")).as("__len")), "doc_id")
      .select(col("doc_id"),
        sort_array(array_distinct(concat(col("bs"), array(col("__len").cast("long"))))).as("ends"))
    assertSame(viaChunks, viaExpr)
  }
}
