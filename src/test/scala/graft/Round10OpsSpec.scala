package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-10 additions: within-doc line dedup, line-repetition
  * fractions, and content-defined chunking. */
class Round10OpsSpec extends AnyFunSuite with LocalSpark {

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- lineDedupWithinDoc -------------------------------------------------

  test("lineDedupWithinDoc cuts later copies within a doc, keeps empties") {
    val df = docsDf(Seq(
      (1L, "nav menu\nbody one\nnav menu\n\nbody two\nnav menu"),
      (2L, "unique a\nunique b"),
      (3L, "\n\n")))
    val out = Dedup.lineDedupWithinDoc(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: 6 lines, two later "nav menu" copies cut; the empty line stays
    assert(out(1L)._1 == 6L && out(1L)._2 == 2L)
    val expect1 = java.security.MessageDigest.getInstance("MD5")
      .digest("nav menu\nbody one\n\nbody two".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L)._3 == expect1)
    assert(out(2L) == ((2L, 0L, md5hex("unique a\nunique b"))))
    // doc 3: three empty lines — structure, never cut
    assert(out(3L) == ((3L, 0L, md5hex("\n\n"))))
  }

  test("lineDedupWithinDoc is corpus-independent (no cross-doc interference)") {
    // the same line in two DIFFERENT docs is not a within-doc duplicate
    val df = docsDf(Seq((1L, "shared line"), (2L, "shared line")))
    val out = Dedup.lineDedupWithinDoc(df, "doc_id", "text").collect()
    assert(out.forall(_.getLong(2) == 0L))
  }

  // ---- lineRepetitionReport -----------------------------------------------

  test("lineRepetitionReport integer-milli fractions") {
    val df = docsDf(Seq(
      (1L, "aaaa\nbb\naaaa\ncc"),   // 4 lines, 1 dup occurrence of len 4
      (2L, "x\nx\nx")))             // 3 lines, 2 dup occurrences
    val out = CorpusStats.lineRepetitionReport(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: dup_lines 1/4 = 250 milli; dup chars 4 of (4+2+4+2)=12 → 333
    assert(out(1L) == ((4L, 1L, 250L, 333L)))
    // doc 2: 2/3 = 666 milli; chars 2 of 3 → 666
    assert(out(2L) == ((3L, 2L, 666L, 666L)))
  }

  // ---- cdcChunks ----------------------------------------------------------

  test("cdcChunks covers every doc exactly, chunks are contiguous") {
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val df = docsDf(Seq((1L, base), (2L, base.take(100)), (3L, "tiny")))
    val out = Dedup.cdcChunks(df, "doc_id", "text", minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    for ((id, rows) <- out) {
      val sorted = rows.sortBy(_._2)
      val len = docsLen(df, id)
      // chunk 0 starts at 1; each chunk starts right after the previous; the
      // last ends at len — exact disjoint cover
      assert(sorted.head._3 == 1L)
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(1)._3 == w(0)._3 + w(0)._4)
      }
      assert(sorted.last._3 + sorted.last._4 - 1 == len)
    }
    // doc 3 is shorter than the window: exactly one chunk of the whole text
    assert(out(3L).toSeq == Seq((3L, 0L, 1L, 4L)))
  }

  test("cdcChunks boundaries are content-defined: an edit re-chunks only its neighborhood") {
    // varied (non-periodic) text — a repeated sentence makes the rolling
    // hash periodic and boundaries can vanish entirely
    val body = (1 to 400).map(i => "w" + (i * 2654435761L % 104729)).mkString(" ")
    val edited = "XYZedit " + body
    val df = docsDf(Seq((1L, body), (2L, edited)))
    val chunks = Dedup.cdcChunks(df, "doc_id", "text", minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val n1 = chunks.count(_._1 == 1L)
    val n2 = chunks.count(_._1 == 2L)
    // after the first post-edit boundary the two docs chunk identically, so
    // all but O(1) chunks of each doc are exact cross-doc duplicates
    val dup1 = chunks.count(c => c._1 == 1L && c._4 == 1L)
    val dup2 = chunks.count(c => c._1 == 2L && c._4 == 1L)
    assert(n1 >= 5, s"fixture too small: $n1 chunks")
    assert(dup1 >= n1 - 2, s"only $dup1 of $n1 base chunks re-matched after a prefix edit")
    assert(dup2 >= n2 - 2, s"only $dup2 of $n2 edited chunks re-matched after a prefix edit")
  }

  test("cdcChunks rejects bad parameters and skips empty docs") {
    val df = docsDf(Seq((1L, ""), (2L, "ok")))
    intercept[IllegalArgumentException](Dedup.cdcChunks(df, "doc_id", "text", window = 1))
    intercept[IllegalArgumentException](Dedup.cdcChunks(df, "doc_id", "text", minDocs = 1))
    val out = Dedup.cdcChunks(df, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSet == Set(2L))
  }

  // ---- pipeline_shards composition ----------------------------------------

  test("shard pipeline: bins respect capacity and co-shard atomically") {
    val s = spark
    import s.implicits._
    val df = (1L to 40L).map(i => (i, "s" + (i % 3), 300L)).toDF("doc_id", "source", "n")
    val packed = Packing.packGreedy(df, "source", "doc_id", "n", capacity = 1000L)
    val keyed = packed.withColumn("bin_key",
      pmod(graft.functions.TextFunctions.tHashUdf(col("source")), lit(1000003L)) * 4096L
        + col("bin"))
    val out = Packing.rendezvousShard(keyed, "bin_key", 7)
      .select("source", "bin", "n", "shard").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // capacity: 3 docs of 300 fit, a 4th would overflow — every bin has <= 3
    val perBin = out.groupBy(r => (r._1, r._2))
    assert(perBin.values.forall(_.length <= 3))
    // atomicity: a bin maps to exactly one shard
    assert(perBin.values.forall(_.map(_._4).distinct.length == 1))
    assert(out.map(_._4).distinct.length > 1, "fixture should spread across shards")
  }

  // ---- hardNegatives ------------------------------------------------------

  test("hardNegatives excludes same-label rows; null labels stay eligible") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f), Some(1)),   // anchor, label 1
      (1L, Array(1f, 0f), Some(1)),   // identical but same label — excluded
      (2L, Array(0.9f, 0.1f), Some(2)), // different label — hardest negative
      (3L, Array(0.5f, 0.5f), None),    // unlabeled — eligible
      (4L, Array(0f, 1f), Some(2))
    ).toDF("vec_id", "embedding", "label")
    val out = SimSearch.hardNegatives(
        emb.filter($"vec_id" === 0L), "vec_id", "embedding", "label",
        emb, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(2L, 3L))
    assert(!out.map(_._1).contains(1L))
  }

  test("hardNegatives and knnLabelReport reject non-integral label columns at plan time") {
    val s = spark
    import s.implicits._
    // a Long cast would merge labels 1.2 and 1.7 (hiding id 2, a
    // different-label neighbor) and fail mid-job on a string label
    val emb = Seq(
      (0L, Array(1f, 0f), 1, 1.2, "a"),
      (1L, Array(0f, 1f), 2, 1.5, "b"),
      (2L, Array(0.99f, 0.1f), 3, 1.7, "c")
    ).toDF("vec_id", "embedding", "ok", "dbl", "str")
    val q = emb.filter($"vec_id" === 0L)
    for (bad <- Seq("dbl", "str"); (ql, cl) <- Seq((bad, "ok"), ("ok", bad))) {
      val e1 = intercept[IllegalArgumentException](SimSearch.hardNegatives(
        q, "vec_id", "embedding", ql, emb, "vec_id", "embedding", cl, k = 2))
      val e2 = intercept[IllegalArgumentException](SimSearch.knnLabelReport(
        q, "vec_id", "embedding", ql, emb, "vec_id", "embedding", cl, k = 2))
      for (e <- Seq(e1, e2))
        assert(e.getMessage.contains(s"label column '$bad' must be an integral type"),
          e.getMessage)
    }
  }

  // ---- BM25 pseudo-relevance feedback -------------------------------------

  test("topKPrf expands with feedback-doc terms and re-ranks") {
    val df = docsDf(Seq(
      (1L, "apple banana"),                     // query doc
      (2L, "apple banana cherry cherry"),       // top feedback doc -> cherry votes
      (3L, "cherry cherry cherry date"),        // reachable only via expansion
      (4L, "elderberry fig")))                  // unrelated
    val idx = Bm25.index(df, "doc_id", "text")
    val q = df.filter(col("doc_id") === 1L)
    val plain = Bm25.topK(df, "doc_id", "text", q, "doc_id", "text", 10)
      .collect().map(_.getLong(1)).toSet
    val prf = Bm25.topKPrf(idx, q, "doc_id", "text", k = 10, fbDocs = 2, fbTerms = 2)
      .collect().map(_.getLong(1)).toSet
    assert(!plain.contains(3L), "doc 3 shares no raw query term")
    assert(prf.contains(3L), "expansion via 'cherry' should reach doc 3")
    assert(!prf.contains(4L))
  }

  // ---- dyadic CMS rank sketch ---------------------------------------------

  test("dyadicNodes is a disjoint exact cover of [0, y)") {
    for (y <- Seq(0L, 1L, 7L, 64L, 100L, 255L, 256L, 65535L)) {
      val nodes = CorpusStats.dyadicNodes(y, 16)
      val covered = nodes.flatMap { case (l, blk) =>
        (blk << l) until ((blk + 1L) << l)
      }
      assert(covered.length == y, s"y=$y covered ${covered.length}")
      assert(covered.toSet == (0L until y).toSet, s"y=$y wrong cover")
      assert(nodes.size <= 16)
    }
  }

  test("cmsRankEstimates is one-sided: est_rank >= true_rank, exact at wide width") {
    val s = spark
    import s.implicits._
    // dense integer values with heavy repetition — forces cell collisions at
    // a narrow width
    val vals = (1L to 2000L).map(i => (i * 37L) % 300L).toDF("v")
    val probes = Seq(10L, 100L, 250L, 300L)
    def ranks(width: Int): Map[Long, Long] = {
      val sk = CorpusStats.dyadicCmsSketch(vals, "v", levels = 10, width = width, depth = 2)
      CorpusStats.cmsRankEstimates(sk, probes, levels = 10, width = width, depth = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val truth = probes.map(p =>
      p -> vals.where($"v" < p).count()).toMap
    val narrow = ranks(8)
    val wide = ranks(4096)
    probes.foreach { p =>
      assert(narrow(p) >= truth(p), s"probe $p: narrow ${narrow(p)} < truth ${truth(p)}")
      assert(wide(p) == truth(p), s"probe $p: wide ${wide(p)} != truth ${truth(p)}")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def docsLen(df: DataFrame, id: Long): Long =
    df.where(col("doc_id") === id).select(length(col("text")).cast("long"))
      .collect().head.getLong(0)
}
