package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-12 additions: MaxScore-pruned BM25, time-decay
  * attribution, the per-source decontamination rollup, and the TPC-H
  * Q14/Q18 shapes' building blocks. */
class Round12OpsSpec extends AnyFunSuite with LocalSpark {

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- topKMaxScore -------------------------------------------------------

  private val corpus = Seq(
    (1L, "apple banana cherry apple"),
    (2L, "banana cherry date elderberry"),
    (3L, "apple apple apple fig"),
    (4L, "grape honeydew kiwi lemon"),
    (5L, "apple banana grape grape grape"),
    (6L, "cherry cherry cherry banana"),
    (7L, "date fig grape apple banana cherry"),
    (8L, "mango nectarine orange papaya"))

  test("topKMaxScore is result-identical to topKIndexed") {
    val docs = docsDf(corpus)
    val queries = docsDf(Seq((100L, "apple banana"), (200L, "grape"),
      (300L, "cherry date fig")))
    val idx = Bm25.index(docs, "doc_id", "text")
    for (k <- Seq(1, 2, 3, 8)) {
      val full = Bm25.topKIndexed(idx, queries, "doc_id", "text", k)
        .orderBy("query_id", "rank").collect().toSeq
      val pruned = Bm25.topKMaxScore(idx, queries, "doc_id", "text", k)
        .orderBy("query_id", "rank").collect().toSeq
      assert(pruned == full, s"k=$k")
    }
  }

  test("topKMaxScore: query with fewer matches than k returns all, unpruned") {
    val docs = docsDf(corpus)
    val queries = docsDf(Seq((1L, "mango")))
    val idx = Bm25.index(docs, "doc_id", "text")
    val out = Bm25.topKMaxScore(idx, queries, "doc_id", "text", 5).collect()
    assert(out.length == 1 && out.head.getAs[Long]("doc_id") == 8L)
  }

  test("topKMaxScore: query with no matching terms returns nothing") {
    val docs = docsDf(corpus)
    val queries = docsDf(Seq((1L, "zzz qqq")))
    val idx = Bm25.index(docs, "doc_id", "text")
    assert(Bm25.topKMaxScore(idx, queries, "doc_id", "text", 3).count() == 0L)
  }

  // ---- decayAttribution ---------------------------------------------------

  def eventsDf(rows: Seq[(Long, Long, String, java.sql.Timestamp)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "user_id", "event_type", "ts")
  }

  private def ts(day: Int, hour: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("decayAttribution conserves exactly 1000 milli per touched conversion") {
    val ev = eventsDf(Seq(
      (1L, 1L, "click", ts(1)), (2L, 1L, "view", ts(3)), (3L, 1L, "click", ts(5)),
      (4L, 1L, "purchase", ts(6)),
      (5L, 2L, "view", ts(2)), (6L, 2L, "purchase", ts(4)),
      (7L, 3L, "purchase", ts(8)))) // touchless conversion: attributes nothing
    val out = EventStats.decayAttribution(ev, "user_id", "event_type",
      "purchase", lookbackDays = 7, halfLifeDays = 2).collect()
    assert(out.map(_.getAs[Long]("credit_milli")).sum == 2000L)
    assert(out.map(_.getAs[Long]("n_touches")).sum == 4L)
  }

  test("decayAttribution weights recent touches above stale ones") {
    // two touches, same channel names so we separate via distinct types:
    // "old" 6 days out (3 half-lives -> w = 2^27), "new" same-day (w = 2^30)
    val ev = eventsDf(Seq(
      (1L, 1L, "old", ts(1)), (2L, 1L, "new", ts(7, 12)),
      (3L, 1L, "purchase", ts(7, 18))))
    val out = EventStats.decayAttribution(ev, "user_id", "event_type",
      "purchase", lookbackDays = 7, halfLifeDays = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("credit_milli")).toMap
    // w_old = 2^27, w_new = 2^30: base_old = 1000*1/9 = 111, base_new = 888,
    // remainder (1) to the last touch ("new")
    assert(out("old") == 111L)
    assert(out("new") == 889L)
  }

  // ---- labelPropagation ---------------------------------------------------

  test("labelPropagation converges two cliques to their min labels") {
    val s = spark
    import s.implicits._
    // cliques {1,2,3,4} and {10,11,12}, one isolated node 99
    val cl1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cl2 = for (a <- 10L to 12L; b <- (a + 1) to 12L) yield (a, b)
    val edges = (cl1 ++ cl2).toDF("id_a", "id_b")
    val nodes = (Seq(99L) ++ (1L to 4L) ++ (10L to 12L)).toDF("vec_id")
    val out = GraphRank.labelPropagation(nodes, "vec_id", edges, "id_a", "id_b",
      rounds = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(out(_) == 1L), s"clique1: $out")
    assert((10L to 12L).forall(out(_) == 10L), s"clique2: $out")
    assert(out(99L) == 99L, "isolated node must keep its own label")
  }

  test("labelPropagation output is exactly one row per input node for arbitrary edges") {
    val s = spark
    import s.implicits._
    // edges reference 50 and 51, which are NOT in the nodes frame: they must
    // not appear in the output, and 5's round-1 vote set must not be skewed
    // by a label-less foreign endpoint
    val edges = Seq((5L, 50L), (50L, 51L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = Seq(5L, 6L, 7L).toDF("vec_id")
    val out = GraphRank.labelPropagation(nodes, "vec_id", edges, "id_a", "id_b",
      rounds = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(5L, 6L, 7L), s"foreign endpoints leaked: $out")
    assert(out(5L) == 5L && out(6L) == 5L && out(7L) == 7L, s"$out")
  }

  // ---- modularity ---------------------------------------------------------

  test("modularity: clique communities score high, one-blob labels score zero") {
    val s = spark
    import s.implicits._
    val cl1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cl2 = for (a <- 10L to 12L; b <- (a + 1) to 12L) yield (a, b)
    val edges = (cl1 ++ cl2 :+ (4L, 10L)).toDF("id_a", "id_b") // one bridge
    val nodes = ((1L to 4L) ++ (10L to 12L)).toSeq
    val goodLabels = nodes.map(n => (n, if (n < 10L) 1L else 10L)).toDF("vec_id", "label")
    val blobLabels = nodes.map(n => (n, 7L)).toDF("vec_id", "label")
    val good = GraphRank.modularity(edges, "id_a", "id_b", goodLabels, "vec_id", "label")
      .collect().head
    val blob = GraphRank.modularity(edges, "id_a", "id_b", blobLabels, "vec_id", "label")
      .collect().head
    assert(good.getAs[Long]("m") == 10L && good.getAs[Long]("n_within") == 9L)
    // all edges within one community: Q = m/m - (2m)^2/(4m^2) = 0 exactly
    assert(blob.getAs[Long]("q_micro") == 0L)
    assert(good.getAs[Long]("q_micro") > 300000L, s"good=$good") // Q ≈ 0.4
  }

  // ---- secondComponent ----------------------------------------------------

  test("secondComponent recovers the runner-up axis after deflation") {
    val s = spark
    import s.implicits._
    // x = (3·s1, s2, 0, 0) with s1, s2 independent sign patterns:
    // E[xxT] = diag(9, 1, 0, 0) -> top direction e0, second e1
    val vecs = (0 until 64).map { k =>
      val s1 = if (k % 2 == 0) 1.0f else -1.0f
      val s2 = if ((k / 2) % 2 == 0) 1.0f else -1.0f
      (k.toLong, Seq(3.0f * s1, s2, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val v1 = Embeddings.powerIteration(vecs, "embedding", dims = 4, nIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v2 = Embeddings.secondComponent(vecs, "embedding", dims = 4, nIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // top component concentrates on dim 0, second on dim 1
    assert(math.abs(v1(0L)) == 1000000L && math.abs(v1(1L)) < 100000L)
    assert(math.abs(v2(1L)) == 1000000L, s"v2=$v2")
    assert(math.abs(v2(0L)) < 100000L, s"v2=$v2")
  }

  // ---- chunkSpans ---------------------------------------------------------

  test("chunkSpans reports boundary straddles off the prefix sum") {
    val s = spark
    import s.implicits._
    // cum = 5, 15, 18 at L=8: doc2 spans chunks 0-1, doc3 spans 1-2
    val df = Seq((1L, 5L), (2L, 10L), (3L, 3L)).toDF("doc_id", "n_tokens")
    val out = Packing.chunkSpans(df, "doc_id", "n_tokens", 8L)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("first_chunk") == 0L && out(0).getAs[Long]("n_chunks") == 1L)
    assert(out(1).getAs[Long]("first_chunk") == 0L && out(1).getAs[Long]("last_chunk") == 1L
      && out(1).getAs[Long]("n_chunks") == 2L)
    assert(out(2).getAs[Long]("first_chunk") == 1L && out(2).getAs[Long]("last_chunk") == 2L
      && out(2).getAs[Long]("n_chunks") == 2L)
  }

  test("chunkSpans clamps first/last to NULL for zero-token docs (leading included)") {
    val s = spark
    import s.implicits._
    // a LEADING zero-token doc would otherwise compute (−1) div L, whose
    // value hinges on truncate-vs-floor parity across engines
    val df = Seq((0L, 0L), (1L, 5L), (2L, 0L), (3L, 10L)).toDF("doc_id", "n_tokens")
    val out = Packing.chunkSpans(df, "doc_id", "n_tokens", 8L)
      .orderBy("doc_id").collect()
    Seq(0, 2).foreach { i =>
      assert(out(i).isNullAt(out(i).fieldIndex("first_chunk")), s"row $i first_chunk")
      assert(out(i).isNullAt(out(i).fieldIndex("last_chunk")), s"row $i last_chunk")
      assert(out(i).getAs[Long]("n_chunks") == 0L, s"row $i n_chunks")
    }
    // nonzero docs unaffected: cum = 0, 5, 5, 15
    assert(out(1).getAs[Long]("first_chunk") == 0L && out(1).getAs[Long]("n_chunks") == 1L)
    assert(out(3).getAs[Long]("first_chunk") == 0L && out(3).getAs[Long]("last_chunk") == 1L
      && out(3).getAs[Long]("n_chunks") == 2L)
  }

  // ---- seasonalBaseline ---------------------------------------------------

  test("seasonalBaseline: dense spine, weekday means, exact residuals") {
    val s = spark
    import s.implicits._
    // 2 clicks on Mon Jan 1, 4 clicks on Mon Jan 8 -> Monday baseline 3e6;
    // the Tue..Sun spine days exist with n=0 and baseline 0
    def t(day: Int, i: Int) =
      (day * 10L + i, 1L, "click", java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:0$i:00"))
    val ev = (Seq(t(1, 1), t(1, 2)) ++ (1 to 4).map(i => t(8, i)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStats.seasonalBaseline(ev, "event_type")
      .collect().map(r => r.getString(1) -> (r.getAs[Long]("n_events"),
        r.getAs[Long]("baseline_micro"), r.getAs[Long]("resid_micro"))).toMap
    assert(out.size == 8, s"dense spine Jan 1..8 expected, got ${out.keys}")
    assert(out("2024-01-01") == ((2L, 3000000L, -1000000L)))
    assert(out("2024-01-08") == ((4L, 3000000L, 1000000L)))
    assert(out("2024-01-03") == ((0L, 0L, 0L))) // zero Wednesday
  }

  // ---- sourceRollup -------------------------------------------------------

  test("sourceRollup counts flagged docs per source with milli rate") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "web"), (2L, "web"), (3L, "web"), (4L, "books"))
      .toDF("doc_id", "source")
    val flagged = Seq(Tuple1(1L), Tuple1(1L), Tuple1(3L)).toDF("doc_id")
    val out = Decontaminate.sourceRollup(corpus, "doc_id", "source", flagged)
      .orderBy("source").collect()
    assert(out(0).getAs[String]("source") == "books")
    assert(out(0).getAs[Long]("n_flagged") == 0L && out(0).getAs[Long]("flag_milli") == 0L)
    assert(out(1).getAs[Long]("n_docs") == 3L)
    assert(out(1).getAs[Long]("n_flagged") == 2L)
    assert(out(1).getAs[Long]("flag_milli") == 666L)
  }
}
