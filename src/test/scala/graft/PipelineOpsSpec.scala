package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators._
import graft.streaming.EventWindows

/** Specs for the LLM-pipeline operators: text analysis, dedup family,
  * similarity search, connected components, multimodal plumbing, streaming. */
class PipelineOpsSpec extends AnyFunSuite with LocalSpark {

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- TextFunctions ------------------------------------------------------

  test("tHash matches the SQL-mirror golden value") {
    // golden value computed independently with the DuckDB mirror expression
    assert(TextFunctions.tHash("small ring") == 2991019091831L)
    assert(TextFunctions.tHash("") == 0L)
    assert(TextFunctions.tHash(null) == 0L)
  }

  test("words/shingles/quality/langid are deterministic and sane") {
    val df = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"), // < 3 words after extraction => no shingles
      (3L, "")))
    val out = df.select(col("doc_id"),
      TextFunctions.wordsCol(col("text")).as("ws"),
      TextFunctions.shingles3(TextFunctions.wordsCol(col("text"))).as("sh"),
      TextFunctions.qualityScoreCol(col("text")).as("q"),
      TextFunctions.langIdCol(TextFunctions.wordsCol(col("text"))).as("lang"),
      TextFunctions.wsTokenCount(col("text")).as("wst"),
      TextFunctions.regexTokenCount(col("text")).as("ret"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getSeq[String](1).length == 9)
    assert(out(1L).getSeq[String](2).length == 7) // 9 words -> 7 shingles
    assert(out(1L).getString(4) == "en")
    assert(out(1L).getDouble(3) > 0.5 && out(1L).getDouble(3) <= 1.0)
    assert(out(2L).getSeq[String](2).isEmpty)
    assert(out(3L).getDouble(3) == 0.0)
    assert(out(1L).getLong(5) == 9L && out(1L).getLong(6) == 9L)
  }

  test("fused scoreDoc is bit-identical to the Column quality/langid forms") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val colForm = docs.select(col("doc_id"),
      TextFunctions.qualityScoreCol(col("text")).as("q"),
      TextFunctions.langIdCol(TextFunctions.wordsCol(col("text"))).as("l"))
    val udfForm = docs.select(col("doc_id"),
        TextFunctions.scoreDocUdf(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("q"), col("s._2").as("l"))
    assert(colForm.exceptAll(udfForm).isEmpty && udfForm.exceptAll(colForm).isEmpty)
    // and the German/French tie-break paths not exercised by the corpus:
    val tricky = docsDf(Seq(
      (1L, "der die das und ist"), (2L, "le la les et est"),
      (3L, "xyz"), (4L, ""), (5L, "the el the el")))
    val a = tricky.select(col("doc_id"),
      TextFunctions.qualityScoreCol(col("text")).as("q"),
      TextFunctions.langIdCol(TextFunctions.wordsCol(col("text"))).as("l"))
    val b = tricky.select(col("doc_id"),
        TextFunctions.scoreDocUdf(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("q"), col("s._2").as("l"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // null text: both forms produce null quality, so >= filters drop the row
    // in either pipeline (langid differs — "zh" vs null — but is unreachable
    // behind the quality filter)
    val withNull = docsDf(Seq((6L, null.asInstanceOf[String])))
    assert(withNull.select(TextFunctions.qualityScoreCol(col("text"))).head().isNullAt(0))
    assert(withNull.select(TextFunctions.scoreDocUdf(col("text"))).head().isNullAt(0))
    assert(withNull.filter(TextFunctions.qualityScoreCol(col("text")) >= 0.0).count() == 0)
    assert(withNull.filter(col("text").isNotNull).count() == 0)
  }

  // ---- Dedup family -------------------------------------------------------

  val nearDupDocs: Seq[(Long, String)] = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 10
    (12L, "one two three four five six seven eight nine ten"),
    (13L, "one two three four five six seven eight nine ten"), // exact dup of 12
    (14L, "completely different words appear here in this sentence now yes"))

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docsDf(nearDupDupFree), "doc_id", "text")
    assert(out.count() == nearDupDupFree.size)
    val canon = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(canon(12L) == 12L && canon(13L) == 12L)
    assert(canon(10L) == 10L && canon(11L) == 11L)
  }
  def nearDupDupFree: Seq[(Long, String)] = nearDupDocs

  test("jaccardPairs finds near-dups and minHashLshPairs agrees") {
    val df = docsDf(nearDupDocs)
    val brute = Dedup.jaccardPairs(df, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 10-11: 8 shingles each, 7 shared => 7/9; 12-13 identical => 1.0
    assert(brute.map(p => (p._1, p._2)) == Set((10L, 11L), (12L, 13L)))
    val lsh = Dedup.minHashLshPairs(df, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == brute)
  }

  test("simHash: identical docs distance 0, near-dups close, others far") {
    val df = docsDf(nearDupDocs)
    val fp = Dedup.simHashFingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp(12L) == fp(13L))
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(fp(10L), fp(11L)) < ham(fp(10L), fp(14L)))
    val pairs = Dedup.simHashPairs(df, "doc_id", "text", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((12L, 13L)))
  }

  test("jaccardPairs maxDocFrequency drops hot-shingle-only pairs, keeps the rest") {
    // 20/21 share ONLY the ubiquitous shingle (present in all 6 docs);
    // 10/11 and 12/13 are genuine near-dups whose shared shingles are rare.
    val hot = "alpha beta gamma" // one 3-shingle, shared by every doc
    val df = docsDf(Seq(
      (10L, s"$hot unique ten text body one two three four five six"),
      (11L, s"$hot unique ten text body one two three four five seven"),
      (12L, s"$hot completely different payload words here again now"),
      (13L, s"$hot completely different payload words here again now"),
      (20L, s"$hot first filler entirely distinct content aaa bbb ccc"),
      (21L, s"$hot second padding wholly separate matter xxx yyy zzz")))
    val uncapped = Dedup.jaccardPairs(df, "doc_id", "text", 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((20L, 21L))) // held together only by the hot shingle
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", 0.05, maxDocFrequency = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((20L, 21L)))
    assert(capped.contains((10L, 11L)) && capped.contains((12L, 13L)))
    // scores are a lower bound of the uncapped exact jaccard for surviving pairs
    val uncappedScores = Dedup.jaccardPairs(df, "doc_id", "text", 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Dedup.jaccardPairs(df, "doc_id", "text", 0.05, maxDocFrequency = 3L)
      .collect().foreach { r =>
        assert(r.getDouble(2) <= uncappedScores((r.getLong(0), r.getLong(1))) + 1e-12)
      }
  }

  test("simHashPairs: 16-bit bands agree with 8-bit bands for maxHamming <= 3") {
    val df = docsDf(nearDupDocs)
    val via8 = Dedup.simHashPairs(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val via16 = Dedup.simHashPairs(df, "doc_id", "text", 3, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(via16 == via8) // both pigeonhole-exact at maxHamming 3
    assert(via16.exists(p => p._1 == 12L && p._2 == 13L))
    // 16-bit banding is NOT exact past 3 bands-1... the require guards it
    assertThrows[IllegalArgumentException] {
      Dedup.simHashPairs(df, "doc_id", "text", 4, bandBits = 16)
    }
    assertThrows[IllegalArgumentException] {
      Dedup.simHashPairs(df, "doc_id", "text", 3, bandBits = 12)
    }
  }

  test("Packing: distributed prefix sum matches scanLeft, invariant to layout") {
    val s = spark
    import s.implicits._
    val rows = (1L to 50L).map(i => (i, i % 7))
    val expectedCum = rows.map(_._2).scanLeft(0L)(_ + _).tail
    for (parts <- Seq(1, 3, 8)) {
      val df = rows.toDF("id", "n").repartition(parts)
      val got = Packing.withPrefixSum(df, "id", "n", "cum")
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(got.map(_._2).toSeq == expectedCum, s"parts=$parts")
    }
    // shard = start-offset div budget: contiguous, non-decreasing, bounded
    val packed = Packing.packByBudget(rows.toDF("id", "n"), "id", "n", budget = 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    packed.foreach { case (_, n, cum, shard) => assert(shard == (cum - n) / 20L) }
    assert(packed.map(_._4).toSeq == packed.map(_._4).toSeq.sorted) // non-decreasing
    // null token counts fail loudly (naming the row) instead of the silent
    // contributes-0-but-lands-in-no-shard inconsistency
    val withNull = Seq((1L, java.lang.Long.valueOf(4L)), (2L, null: java.lang.Long))
      .toDF("id", "n")
    val e = intercept[Exception] {
      Packing.withPrefixSum(withNull, "id", "n").collect()
    }
    assert(Option(e.getMessage).getOrElse(e.toString).contains("null n at id=2") ||
      Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("null n at id=2")))
  }

  test("Sampling.withShuffleOrder: dense deterministic permutation, layout-invariant") {
    val s = spark
    import s.implicits._
    val rows = (1L to 40L).map(i => (i, s"payload $i"))
    val runs = Seq(1, 4).map { parts =>
      Sampling.withShuffleOrder(rows.toDF("id", "payload").repartition(parts), "id")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    assert(runs(0) == runs(1)) // physical layout can't move anything
    val pos = runs.head.values.toSeq.sorted
    assert(pos == (0L until 40L)) // dense 0-based permutation, one per row
    // it actually shuffles: not the identity (sorted-by-id) order
    assert(runs.head.toSeq.sortBy(_._1).map(_._2) != (0L until 40L).toSeq)
  }

  test("withMixtureOrder: every prefix holds sources near their weight ratios") {
    val s = spark
    import s.implicits._
    // sources sized proportionally to weights (30/20/10 ~ 3/2/1) so no source
    // exhausts early — the stride bound then holds for EVERY prefix
    val rows = (1L to 60L).map { i =>
      val src = if (i <= 30) "a" else if (i <= 50) "b" else "c"
      (i, src)
    }
    val weights = Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
    val runs = Seq(1, 4).map { parts =>
      Sampling.withMixtureOrder(rows.toDF("id", "source").repartition(parts),
          "id", "source", weights)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._3)
    }
    assert(runs(0).toSeq == runs(1).toSeq) // layout-invariant
    val order = runs.head
    assert(order.map(_._3).toSeq == (0L until 60L)) // dense permutation
    for (l <- Seq(6, 12, 24, 36, 48, 60)) {
      val prefix = order.take(l)
      assert(math.abs(prefix.count(_._2 == "a") - l * 3 / 6) <= 2, s"a at prefix $l")
      assert(math.abs(prefix.count(_._2 == "b") - l * 2 / 6) <= 2, s"b at prefix $l")
      assert(math.abs(prefix.count(_._2 == "c") - l * 1 / 6) <= 2, s"c at prefix $l")
    }
    // unknown source fails loudly instead of silently dropping rows
    val e = intercept[Exception] {
      Sampling.withMixtureOrder(Seq((1L, "zz")).toDF("id", "source"),
        "id", "source", weights).collect()
    }
    assert(Option(e.getMessage).getOrElse(e.toString).contains("no weight for source"))
    // a NULL source must still raise with a readable message (not a null-ed
    // concat): the error names the <null> placeholder
    val eNull = intercept[Exception] {
      Sampling.withMixtureOrder(Seq((1L, null: String)).toDF("id", "source"),
        "id", "source", weights).collect()
    }
    val msgNull = Option(eNull.getMessage).getOrElse(eNull.toString)
    assert(msgNull.contains("no weight for source") && msgNull.contains("<null>"),
      s"unexpected message: $msgNull")
  }

  test("keepTopPercent: exact count, highest scores survive, layout-invariant") {
    val s = spark
    import s.implicits._
    val rows = (1L to 40L).map(i => (i, (i * 17 % 23).toDouble)) // ties at same score
    for (parts <- Seq(1, 4)) {
      val kept = CorpusStats.keepTopPercent(
          rows.toDF("id", "score").repartition(parts), "id", "score", 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(kept.size == 10) // floor(40 * 25 / 100) exactly
      // survivors = top 10 under (score desc, id asc)
      val expected = rows.sortBy { case (id, sc) => (-sc, id) }.take(10).toSet
      assert(kept == expected, s"parts=$parts")
    }
    assert(CorpusStats.keepTopPercent(rows.toDF("id", "score"), "id", "score", 0).count() == 0)
    assert(CorpusStats.keepTopPercent(rows.toDF("id", "score"), "id", "score", 100).count() == 40)
  }

  test("winnowSpans: positions point at identical k-gram substrings on both sides") {
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = docsDf(Seq(
      (1L, "PREFIX ONE " + shared + " SUFFIX A"),
      (2L, "completely different lead-in text then " + shared),
      (3L, "no overlap with anything else in this corpus at all")))
    val texts = Map(1L -> ("PREFIX ONE " + shared + " SUFFIX A"),
      2L -> ("completely different lead-in text then " + shared),
      3L -> "no overlap with anything else in this corpus at all")
    val spans = Dedup.winnowSpans(docs, "doc_id", "text").collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(a == 1L && b == 2L, "only the shared-passage pair may report spans")
      val (pa, pb) = (r.getAs[Long]("pos_a").toInt, r.getAs[Long]("pos_b").toInt)
      // 1-based positions: the k-gram at each side's position is IDENTICAL text
      assert(texts(a).substring(pa - 1, pa - 1 + 8) == texts(b).substring(pb - 1, pb - 1 + 8))
    }
    // span count consistent with the counting operator
    val pairShared = Dedup.winnowPairs(docs, "doc_id", "text", minShared = 1L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(spans.length.toLong == pairShared((1L, 2L)))
  }

  test("exactPercentiles: nearest-rank values, ties safe, layout-invariant") {
    val s = spark
    import s.implicits._
    // values 1..100 shuffled -> p50 = rank floor(99*50/100)=49 -> value 50.0
    val vals = scala.util.Random.shuffle((1 to 100).toList).map(_.toDouble)
    val df = vals.toDF("x")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.exactPercentiles(d, "x", Seq(0, 50, 90, 99, 100))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = run(df)
    assert(got == Map(0L -> 1.0, 50L -> 50.0, 90L -> 90.0, 99L -> 99.0, 100L -> 100.0))
    assert(run(df.repartition(9)) == got)
    // massive ties: every rank lands on the same value
    val tied = Seq.fill(50)(7.0).toDF("x")
    assert(run(tied).values.toSet == Set(7.0))
  }

  test("approxDistinctByGroup: exact under k, deterministic, duplicates collapse") {
    val s = spark
    import s.implicits._
    // group a: 10 distinct values each duplicated 5x; group b: 200 distinct
    val rows = (1L to 50L).map(i => ("a", s"v${i % 10}")) ++
      (1L to 200L).map(i => ("b", s"user-$i"))
    val df = rows.toDF("g", "v")
    val got = CorpusStats.approxDistinctByGroup(df, "g", "v", k = 32)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("a") == ((10L, 10.0))) // < k: sketch IS the exact distinct count
    val (nb, estB) = got("b")
    assert(nb == 32L) // saturated sketch
    assert(estB > 50.0 && estB < 800.0, s"estimate $estB wildly off for 200 distinct")
    // sketch merge is partitioning-invariant (bounded sorted-merge)
    val again = CorpusStats.approxDistinctByGroup(df.repartition(17), "g", "v", k = 32)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(again == got)
    // nulls ignored like count(DISTINCT)
    val withNull = df.union(Seq(("a", null.asInstanceOf[String])).toDF("g", "v"))
    assert(CorpusStats.approxDistinctByGroup(withNull, "g", "v", k = 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.apply("a") == 10L)
  }

  test("kmvGroupOverlap: exact below k, hash-pinned, layout-invariant") {
    val s = spark
    import s.implicits._
    // |X|=30, |Y|=30, |X∩Y|=15, |X∪Y|=45 < k=64 -> every sketch exact, so
    // the estimates must equal the true values precisely
    val rows = (1 to 30).map(i => ("x", s"u$i")) ++ (16 to 45).map(i => ("y", s"u$i"))
    val df = rows.toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.kmvGroupOverlap(d, "g", "v", k = 64).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
    val got = run(df)
    assert(got == Set(("x", "y", 45L, math.rint(15.0 / 45.0 * 1e4) / 1e4, 15.0)))
    assert(run(df.repartition(11)) == got)
  }

  test("TopKAgg.perKey equals the window top-k exactly, ties included") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7)
    // small score alphabet forces plenty of (score) ties -> id tie-break matters
    val rows = (1 to 500).map(_ =>
      (rng.nextInt(6).toLong, rng.nextInt(80).toLong, (rng.nextInt(5) * 0.25)))
      .distinct
    val df = rows.toDF("key", "id", "score")
    val viaAgg = graft.functions.TopKAgg.perKey(df, "key", "id", "score", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy(col("key")).orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaAgg == viaWindow)
    // partial-aggregation invariance: same result at any partitioning
    val repart = graft.functions.TopKAgg.perKey(df.repartition(13), "key", "id", "score", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(repart == viaWindow)
  }

  test("TopKAgg.perKeyDistinct equals dropDuplicates + window under equal-score duplicates") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    // each (key, id) carries ONE deterministic score; rows are then
    // replicated 1-3x — the precondition (duplicate copies score equally)
    // of the aggregator, exactly knnGraph's multi-table collision shape
    val base = (1 to 400).map(_ => (rng.nextInt(5).toLong, rng.nextInt(60).toLong))
      .distinct.map { case (k, i) => (k, i, ((k * 7 + i) % 9) * 0.125) }
    val rows = base.flatMap(r => Seq.fill(1 + rng.nextInt(3))(r))
    val df = rows.toDF("key", "id", "score")
    val viaAgg = graft.functions.TopKAgg.perKeyDistinct(df, "key", "id", "score", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy(col("key")).orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.dropDuplicates("key", "id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaAgg == viaWindow)
    val repart = graft.functions.TopKAgg
      .perKeyDistinct(df.repartition(13), "key", "id", "score", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(repart == viaWindow)
  }

  test("TopKAgg.perKeyDistinct fails loudly when duplicate copies score differently") {
    val s = spark
    import s.implicits._
    // same (key, id) with two DIFFERENT scores in one partition — the
    // precondition violation the aggregator's in-buffer memo must catch
    // instead of silently keeping whichever copy arrived first
    val df = Seq((1L, 7L, 0.5), (1L, 7L, 0.25), (1L, 3L, 0.125))
      .toDF("key", "id", "score").coalesce(1)
    val ex = intercept[org.apache.spark.SparkException] {
      graft.functions.TopKAgg.perKeyDistinct(df, "key", "id", "score", 5).collect()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("TopKDistinct precondition violated")))
  }

  test("TopKAgg.perKeyDistinct treats -0.0 and 0.0 copies as equal (r16 ADVICE)") {
    val s = spark
    import s.implicits._
    // -0.0 vs 0.0 are bitwise-distinct but numerically equal — a legal pair
    // of duplicate copies (e.g. a sign-flipped zero dot product); the
    // precondition check must not throw, and the pair still dedups to one row
    val df = Seq((1L, 7L, -0.0), (1L, 7L, 0.0), (1L, 3L, 1.0))
      .toDF("key", "id", "score").coalesce(1)
    val got = graft.functions.TopKAgg.perKeyDistinct(df, "key", "id", "score", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 7L), (1L, 3L)))
  }

  test("bigramLogLoss: improbable transitions score higher; short docs absent") {
    val docs = docsDf(Seq(
      (1L, "a b a b"), // common transitions: (a,b)x2, (b,a)
      (2L, "a a"),     // the corpus's rarest transition
      (3L, "a")))      // < 2 words: no transition to score
    val got = CorpusStats.bigramLogLoss(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L))
    // c2(a,b)=2 c2(b,a)=1 c2(a,a)=1; c1(a)=3 c1(b)=1; V=2
    // doc1 = avg(-ln(3/5), -ln(2/3), -ln(3/5)) ≈ 0.4757; doc2 = -ln(2/5) ≈ 0.9163
    assert(got(2L) > got(1L))
    assert(math.abs(got(1L) - 0.4757) < 0.001 && math.abs(got(2L) - 0.9163) < 0.001)
    // determinism under re-partitioning (exact integer micro-nat sums)
    val again = CorpusStats.bigramLogLoss(
        docsDf(Seq((1L, "a b a b"), (2L, "a a"), (3L, "a"))).repartition(7),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == got)
  }

  test("containmentPairs: a subset copy scores 1.0 where jaccard stays low") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val short = "alpha beta gamma delta epsilon" // embedded prefix: 3 shingles, all in long
    val docs = docsDf(Seq((1L, long), (2L, short),
      (3L, "entirely different content sharing nothing with the others here")))
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cont == Set((1L, 2L, 1.0))) // fully contained
    // the same pair is invisible to jaccard at any near-dup threshold:
    // |A∩B|=3, |A∪B|=22 -> j≈0.14
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .collect()
    assert(jac.isEmpty)
  }

  test("minHashLshPairsBetween equals the cross-parity slice of the self-join") {
    import org.apache.spark.sql.functions.col
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = docsDf(Seq(
      (2L, base), (3L, base),                      // exact cross-parity dup
      (4L, base + " lambda"), (7L, base + " mu"),  // near-dups cross parity
      (6L, "unrelated totally different words here with zero overlap at all"),
      (9L, "another disjoint document about completely other things entirely")))
    val selfPairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.6)
      .collect()
      .map(r => (Set(r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter { case (ids, _) => ids.count(_ % 2 == 0) == 1 } // one even, one odd
      .toSet
    val crossPairs = Dedup.minHashLshPairsBetween(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.6)
      .collect()
      .map(r => (Set(r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toSet
    assert(crossPairs == selfPairs && crossPairs.nonEmpty)
  }

  test("cross-table LSH verifies each row pair when a side repeats an id") {
    val dog = "the quick brown fox jumps over the lazy dog today"
    val a = docsDf(Seq((1L, dog), (1L, "the quick brown fox jumps over the lazy cat today")))
    val b = docsDf(Seq((9L, dog)))
    // 8 shingles each side; the cat row shares 6 of them: 6 / 10 = 0.6
    val want = Seq((1L, 9L, 0.6), (1L, 9L, 1.0))
    def triples(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(triples(Dedup.minHashLshPairsBetween(a, "doc_id", "text", b, "doc_id", "text", 0.0))
      == want)
    assert(triples(Decontaminate.fuzzyFlagged(a, "doc_id", "text", b, "doc_id", "text", 0.0))
      == want)
  }

  test("minHashLshPairs bandRows knob: exact dups always collide; stricter banding narrows") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = docsDf(Seq(
      (1L, a), (2L, a), // exact duplicates: jaccard 1 collides in EVERY band config
      (3L, a + " nu xi"), // near-dup of 1/2
      (4L, "totally different words with no shingle overlap at all here now")))
    val loose = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strict = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.5, bandRows = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 2L)) && strict.contains((1L, 2L)))
    // stricter banding can only LOSE candidates, never invent them
    assert(strict.subsetOf(loose))
    intercept[IllegalArgumentException] { // plan-time fail-fast, no job launched
      Dedup.minHashLshPairs(docs, "doc_id", "text", 0.5, bandRows = 5)
    }
  }

  test("keepTopPercentByGroup: per-group exact counts, determinism, null raises") {
    val s = spark
    import s.implicits._
    // group "a": 30 rows, "b": 10 rows — 25% keeps floor(30·.25)=7 and
    // floor(10·.25)=2, each group's own best, not a global cut
    val rows = (1L to 40L).map(i =>
      (i, if (i <= 30L) "a" else "b", (i * 17 % 23).toDouble))
    val df = rows.toDF("id", "src", "score")
    for (parts <- Seq(1, 4)) {
      val kept = CorpusStats.keepTopPercentByGroup(
          df.repartition(parts), "id", "score", "src", 25)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val expected = rows.groupBy(_._2).flatMap { case (g, rs) =>
        rs.sortBy { case (id, _, sc) => (-sc, id) }.take(rs.length * 25 / 100)
      }.toSet
      assert(kept == expected, s"parts=$parts")
      assert(kept.count(_._2 == "a") == 7 && kept.count(_._2 == "b") == 2)
    }
    val withNull = df.withColumn("src",
      when(col("id") === 5L, lit(null)).otherwise(col("src")))
    val ex = intercept[Exception] {
      CorpusStats.keepTopPercentByGroup(withNull, "id", "score", "src", 25).collect()
    }
    assert(ex.getMessage.contains("null src"))
  }

  test("connected components: chains collapse to min id") {
    val s = spark
    import s.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L), (6L, 7L)).toDF("a", "b")
    val comp = ConnectedComponents.run(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 6L))
  }

  test("runStar: adversarial 60-chain resolves exactly in O(log) rounds") {
    val s = spark
    import s.implicits._
    // diameter 59 — label propagation's default maxIter=20 cannot finish this;
    // the alternating algorithm must (and within its default 30 rounds)
    val n = 60L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val comp = ConnectedComponents.runStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == n && comp.values.forall(_ == 1L))
  }

  test("runStar keeps one row per node even when maxRounds is exhausted") {
    val s = spark
    import s.implicits._
    // mid-run edge sets are not star forests — a node can point at several
    // hubs; the terminal min-aggregate must still emit exactly one label each
    val n = 30L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val out = ConnectedComponents.runStar(nodes, "id", edges, "a", "b", maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n) // one row per node, no join fan-out
    assert(out.toMap.forall { case (id, comp) => comp <= id }) // labels only improve downward
  }

  test("runStar agrees with run on random shallow graphs, and on singletons") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val nodes = (0L until 40L).toDF("id")
    val edges = Seq.fill(30)((rnd.nextLong(40).abs, rnd.nextLong(40).abs))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val viaProp = ConnectedComponents.run(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = ConnectedComponents.runStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaProp)
    // no edges at all: every node is its own component
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val solo = ConnectedComponents.runStar(nodes, "id", empty, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(solo.forall { case (k, v) => k == v })
  }

  test("run/runStar with a reliable checkpointDir produce identical labels") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val nodes = (1L to 20L).toDF("id")
      val edges = ((1L until 10L).map(i => (i, i + 1)) ++ Seq((15L, 16L), (17L, 16L)))
        .toDF("a", "b")
      val local = ConnectedComponents.run(nodes, "id", edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val reliable = ConnectedComponents.run(nodes, "id", edges, "a", "b",
          checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      val starReliable = ConnectedComponents.runStar(nodes, "id", edges, "a", "b",
          checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(starReliable == local)
      // the knob actually engaged: reliable checkpoint files were written
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected reliable checkpoint files under the temp dir")
      // superseded generations are deleted as the loops advance: the chain
      // graph runs ~9 propagation iterations, but only the LIVE generations'
      // rdd-N directories may remain (the final labels of each run, plus the
      // two loops' in-flight handles — far fewer than iterations × runs)
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .size
      assert(rddDirs <= 6,
        s"superseded generation checkpoint dirs leaked: $rddDirs rdd-N dirs remain " +
          "(releaseGeneration should delete each superseded generation's files)")
    } finally {
      // best-effort temp cleanup; also reset so later suites keep localCheckpoint
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("embeddingPairs + SimSearch.topK on hand-built vectors") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f)),  // ~parallel to 0
      (2L, Seq(0.0f, 1.0f)),   // orthogonal to 0
      (3L, Seq(-1.0f, 0.0f))). // opposite to 0
      toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
    val top = SimSearch.topK(vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      vecs, "vec_id", "embedding", 2, excludeSelf = true)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.map(_._1).toSeq == Seq(1L, 2L)) // nearest first, then orthogonal
    assert(math.abs(top.head._2 - 1.0) < 1e-3)
  }

  test("SimSearch.topKLsh returns same top hit as brute force for tight clusters") {
    val s = spark
    import s.implicits._
    val base = (0 until 20).map { i =>
      val angle = if (i < 10) 0.1 * i else math.Pi / 2 + 0.1 * (i - 10)
      (i.toLong, Seq(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }
    val df = base.toDF("vec_id", "embedding")
    val brute = SimSearch.topK(df, "vec_id", "embedding", df, "vec_id", "embedding",
      1, excludeSelf = true).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = SimSearch.topKLsh(df, "vec_id", "embedding", df, "vec_id", "embedding",
      1, nPlanes = 2, excludeSelf = true).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // LSH with few planes keeps same-cluster neighbors together
    val agree = brute.keys.count(k => lsh.get(k).contains(brute(k)))
    assert(agree >= 15, s"only $agree/20 LSH top-1 hits agree with brute force")
  }

  test("embeddingPairsLsh is a subset of brute pairs with OR-amplified recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def collect(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = collect(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4))
    // at cosine 0.4 the per-plane agreement p ≈ 0.63, so per-table collision is
    // p^nPlanes — use 4 planes (p^4 ≈ 0.16) so OR-amplification is visible
    val lsh1 = collect(Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.4,
      nPlanes = 4, nTables = 1))
    val lsh6 = collect(Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.4,
      nPlanes = 4, nTables = 6))
    assert(lsh1.subsetOf(brute) && lsh6.subsetOf(brute)) // never invents pairs
    assert(lsh6.size >= lsh1.size) // more tables => recall can only grow
    assert(brute.isEmpty || lsh6.size.toDouble / brute.size >= 0.4,
      s"6-table recall ${lsh6.size}/${brute.size} unexpectedly low")
  }

  test("topKLsh nTables OR-amplification: recall vs brute is monotone in tables") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20)
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimSearch.topK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, excludeSelf = true))
    // few planes so single-table misses are visible (same calibration as the
    // embeddingPairsLsh recall test: p^4 per table at these cosines)
    val t1 = pairs(SimSearch.topKLsh(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, nPlanes = 4, nTables = 1, excludeSelf = true))
    val t4 = pairs(SimSearch.topKLsh(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, nPlanes = 4, nTables = 4, excludeSelf = true))
    // candidate sets grow with tables, and any candidate outranking a true
    // top-k hit is itself a true top-k hit => intersection is monotone
    assert((t4 intersect brute).size >= (t1 intersect brute).size)
    val recall4 = (t4 intersect brute).size.toDouble / brute.size
    assert(recall4 >= 0.4, s"4-table recall $recall4 unexpectedly low")
  }

  test("kernel search operators fail fast on a collect-unsafe query side") {
    val s = spark
    import s.implicits._
    // spark.range carries an exact Catalyst size estimate (8 bytes/row) — a
    // 10^10-row frame estimates ~80 GB, far past the 512 MB collect guard,
    // without materializing anything.
    val hugeQ = s.range(10000000000L)
      .select(col("id").as("vec_id"), array(lit(1.0f)).as("embedding"))
    val corpus = Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SimSearch.topK(hugeQ, "vec_id", "embedding", corpus, "vec_id", "embedding", 1)
    }
    assert(e.getMessage.contains("query side too large"))
    assertThrows[IllegalArgumentException] {
      SimSearch.topKLsh(hugeQ, "vec_id", "embedding", corpus, "vec_id", "embedding", 1)
    }
    assertThrows[IllegalArgumentException] {
      SimSearch.topKIvf(hugeQ, "vec_id", "embedding", corpus, "vec_id", "embedding", 1)
    }
    // the refinement path: a slim filtered slice of a frame whose FILTER-BLIND
    // estimate (800 MB for 10^8 range rows) exceeds the 512 MB guard must now
    // pass via the actual-row-count probe instead of throwing spuriously
    val slimQ = s.range(100000000L)
      .select(col("id").as("vec_id"), array(lit(1.0f)).as("embedding"))
      .filter(col("vec_id") < 3)
    val ok = SimSearch.topK(slimQ, "vec_id", "embedding", corpus, "vec_id", "embedding", 1)
    assert(ok.count() == 3)
  }

  test("broadcast operators fail fast on an over-bound side and name the scalable path") {
    val s = spark
    import s.implicits._
    // ~80 GB estimated from spark.range's exact size statistics; no row is read
    val huge = s.range(10000000000L)
    def failsNaming(alternative: String)(op: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](op)
      assert(e.getMessage.contains("too large") && e.getMessage.contains(alternative),
        e.getMessage)
    }
    val events = Seq((1L, 5L)).toDF("k", "ts")
    val hugeRight = huge.select(lit(1L).as("k"), col("id").as("rts"), col("id").as("v"))
    failsNaming("use asofJoin") {
      AsOfJoin.asofJoinBroadcast(events, hugeRight, "k", "ts", "rts", Seq("v" -> "v"), "rts")
    }
    val hugeIntervals = huge.select(col("id").as("s"), (col("id") + 1).as("e"))
    failsNaming("use pointInInterval") {
      IntervalJoin.pointInIntervalBroadcast(events.select(col("ts")), "ts", hugeIntervals, "s", "e")
    }
    val docs = docsDf(Seq((1L, "a document long enough to have one twenty-char gram")))
    val hugeBench = huge.select(col("id").cast("string").as("text"))
    failsNaming("report coverage per shard") {
      Decontaminate.benchCoverage(docs, "text", hugeBench, "text")
    }
    failsNaming("use contaminatedSpansBloom") {
      Decontaminate.contaminatedSpans(docs, "doc_id", "text", hugeBench, "text")
    }
    // the Bloom form is linear in its item count (~1.2 bytes per item at
    // fpp 0.01, so the 256 MB bound lies near 2.2e8 items); the exact-bytes
    // refinement, with a small bound, judges an over-bound estimate on the
    // bytes it returns
    SizeGuard.requireBloomFits(1000L, 0.01, "items", "shard")
    val bloom = intercept[IllegalArgumentException] {
      SizeGuard.requireBloomFits(1000000000L, 0.01, "items", "shard the item set")
    }
    assert(bloom.getMessage.contains("1000000000 items") &&
      bloom.getMessage.contains("shard the item set"), bloom.getMessage)
    // one 2-float row is 16 + 4·2 = 24 bytes; its filter-blind estimate is
    // that of the 1000-row range it was filtered from
    val small = s.range(1000L)
      .select(col("id").as("vec_id"), array(lit(1.0f), lit(2.0f)).as("embedding"))
      .filter(col("vec_id") < 1)
    assert(SizeGuard.estimate(small) > BigInt(24))
    val exact = Some(SimSearch.queryBytes("embedding") _)
    SizeGuard.requireFits(small, "query side", "probe", bound = 24, exactBytes = exact)
    val refined = intercept[IllegalArgumentException] {
      SizeGuard.requireFits(small, "query side", "probe", bound = 23, exactBytes = exact)
    }
    assert(refined.getMessage.contains("24 bytes exceed the 23-byte bound"), refined.getMessage)
  }

  test("topKIvf Lloyd refinement: beats the seed quantizer's recall on clustered data") {
    val s = spark
    import s.implicits._
    // 4 well-separated angular clusters (axes of R^4) with deterministic
    // jitter; ids 1-4 all sit in cluster 0, so the smallest-id SEED centroids
    // are adversarially degenerate (all four in one cluster) and nProbe=1
    // routes most queries to the wrong lists. Lloyd iterations must spread
    // the centroids toward the true clusters and lift recall.
    val rows = (1L to 80L).map { i =>
      val c = if (i <= 4) 0 else (i % 4).toInt
      val vec = Array.tabulate(4) { d =>
        val jitter = ((i * 7 + d * 3) % 11).toFloat / 30f
        if (d == c) 1f + jitter else jitter
      }
      (i, vec.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") > 40)
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimSearch.topK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, excludeSelf = true))
    def recallAt(nIters: Int): Double = {
      val got = pairs(SimSearch.topKIvf(q, "vec_id", "embedding",
        emb, "vec_id", "embedding", 3, nList = 4, nProbe = 1, nIters = nIters,
        excludeSelf = true))
      (got intersect brute).size.toDouble / brute.size
    }
    val r0 = recallAt(0); val r2 = recallAt(2)
    assert(r2 > r0, s"Lloyd recall $r2 should beat seed recall $r0")
    assert(r2 >= 0.9, s"refined recall unexpectedly low: $r2")
  }

  test("SimSearch.topKIvf: nProbe=nList degenerates to brute force; partial probe has high recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20)
    def collect(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = collect(SimSearch.topK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, excludeSelf = true))
    // all lists probed => every corpus vector scored => identical to brute
    val full = collect(SimSearch.topKIvf(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, nList = 8, nProbe = 8, excludeSelf = true))
    assert(full == brute)
    // partial probing is a subset-quality approximation: same schema, <= k per
    // query, and a sane share of the brute top-3 recovered
    val part = collect(SimSearch.topKIvf(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", 3, nList = 8, nProbe = 3, excludeSelf = true))
    assert(part.groupBy(_._1).values.forall(_.size <= 3))
    val recall = (part.map(p => (p._1, p._2)) intersect brute.map(p => (p._1, p._2))).size.toDouble /
      brute.size
    assert(recall >= 0.3, s"IVF nProbe=3/8 recall $recall unexpectedly low")
  }

  test("topKStrings finds the most similar part-like names") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "small ring"), (2L, "small rings"), (3L, "blue bolt")).toDF("id", "name")
    val queries = Seq((100L, "small ring")).toDF("id", "name")
    val out = SimSearch.topKStrings(queries, "id", "name", corpus, "id", "name", 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(math.abs(out.head._2 - 1.0) < 1e-9)
  }

  test("chunkWords: stride/overlap windows, no redundant tail") {
    val words = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    val text = words.mkString(" ") // 10 words ([a-z]+ extraction, like wordsCol)
    // size 4 overlap 1 -> stride 3: starts 0,3,6,9; start 9 has 9+1 >= 10 -> dropped
    val c = TextFunctions.chunkWords(text, 4, 1)
    assert(c.toSeq == Seq("aa bb cc dd", "dd ee ff gg", "gg hh ii jj"))
    assert(TextFunctions.chunkWords("", 4, 1).isEmpty)
    assert(TextFunctions.chunkWords(null, 4, 1).isEmpty)
    assert(TextFunctions.chunkWords("one two", 4, 1).toSeq == Seq("one two")) // short doc: one chunk
    assertThrows[IllegalArgumentException](TextFunctions.chunkWords("x", 2, 2))
  }

  test("vocabulary: frequency-ranked with deterministic alphabetical ties") {
    val df = docsDf(Seq(
      (1L, "apple apple apple banana banana cherry"),
      (2L, "apple banana date date")))
    val v = CorpusStats.vocabulary(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(v("apple") == ((4L, 2L, 1L)))  // cf=4 df=2 rank=1
    assert(v("banana") == ((3L, 2L, 2L)))
    // cherry and date tie at cf — alphabetical tie-break, then df distinguishes
    assert(v("date") == ((2L, 1L, 3L)))   // cf=2 beats cherry's cf=1
    assert(v("cherry") == ((1L, 1L, 4L)))
  }

  test("canonicalize keeps exactly one representative per transitive cluster") {
    val docs = docsDf((1L to 6L).map(i => (i, s"doc number $i")))
    val s = spark
    import s.implicits._
    // chain 1-2-3 (one cluster), pair 5-6; 4 isolated
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val survivors = Dedup.canonicalize(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L)) // min of each cluster + the singleton
    // the adversarial-diameter algorithm gives the same survivors
    val viaStar = Dedup.canonicalize(docs, "doc_id", pairs, algorithm = "star")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaStar == survivors)
  }

  test("Decontaminate.flagged: 13-gram collision flags the leaked doc only") {
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron"
    val leaked = "intro words here " + benchText + " trailing content"
    val clean = "totally different content with no shared sequence of thirteen words " +
      "just regular prose going on and on about something else entirely today"
    val corpus = docsDf(Seq((100L, leaked), (101L, clean)))
    val bench = docsDf(Seq((1L, benchText)))
    val out = Decontaminate.flagged(corpus, "doc_id", "text", bench, "doc_id", "text", 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((100L, 1L)))
  }

  test("unigramLogLoss: out-of-distribution docs score higher cross-entropy") {
    val df = docsDf(Seq(
      (1L, "the cat sat on the mat and the cat slept"),
      (2L, "the cat sat on the mat again and again"),
      (3L, "the mat and the cat sat on the cat"),
      (4L, "zyxwv qqqqj kkkkx wwwwz pppqq"), // gibberish: all corpus-unique words
      (5L, "")))
    val xent = CorpusStats.unigramLogLoss(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!xent.contains(5L)) // no words -> no distribution -> absent
    assert(xent(4L) > xent(1L) && xent(4L) > xent(2L) && xent(4L) > xent(3L),
      s"gibberish should score highest: $xent")
  }

  test("trigramLogLoss: word salad with plausible bigrams scores higher than fluent text") {
    val fluent = "the cat sat on the mat and the cat sat on the rug"
    val df = docsDf(Seq(
      (1L, fluent), (2L, fluent), (3L, fluent), (4L, fluent),
      // every bigram occurs in the fluent corpus; the trigram transitions don't
      (5L, "the cat sat on the cat sat on the mat and the rug"),
      (6L, "ab"))) // < 3 words -> absent
    val x3 = CorpusStats.trigramLogLoss(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!x3.contains(6L))
    assert(x3(5L) > x3(1L), s"shuffled transitions should score higher: $x3")
    assert(x3(1L) == x3(2L) && x3(2L) == x3(3L)) // identical docs, identical score
  }

  test("duplicateSpans: maximal cross-doc runs, within-doc repeats don't count") {
    val shared = "0123456789abcdefghijKLMNOPQRST" // 30 chars, shared by docs 1+2
    val df = docsDf(Seq(
      (1L, "AAA" + shared + "BBBB"),
      (2L, "cc" + shared + "dddddd"),
      // doc 3 repeats a 25-char passage TWICE within itself only: no other doc
      // has it, so minDocs=2 on distinct docs must NOT mark it
      (3L, "uvwxyz!!uniquepassagehere@@##uniquepassagehere@@xx"),
      (4L, "totally different content with no overlap at all!")))
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", k = 20)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: shared starts at char 4 (1-based), 30 chars long -> 11 grams
    assert(spans(1L) == ((4L, 33L, 11L)), s"got $spans")
    assert(spans(2L) == ((3L, 32L, 11L)), s"got $spans")
    assert(!spans.contains(3L) && !spans.contains(4L), s"got $spans")
    // raising minDocs past the pair count empties the result (this also
    // exercises the general lag-marker distinct-doc window branch)
    assert(Dedup.duplicateSpans(df, "doc_id", "text", k = 20, minDocs = 3L).isEmpty)
    // a third doc carrying the shared passage (twice, to exercise the
    // within-doc distinct-count of the lag-marker branch) satisfies
    // minDocs = 3 for exactly that passage's grams
    val m3 = Dedup.duplicateSpans(
        docsDf(Seq((1L, "AAA" + shared + "BBBB"), (2L, "cc" + shared + "dddddd"),
          (5L, "x" + shared + "y" + shared),
          (3L, "uvwxyz!!uniquepassagehere@@##uniquepassagehere@@xx"))),
        "doc_id", "text", k = 20, minDocs = 3L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m3.keySet == Set(1L, 2L, 5L) && m3(1L) == ((4L, 33L, 11L)), s"got $m3")
  }

  test("semDedup: drops larger-id in-cluster near-dups, keeps cross-cluster ones") {
    val s = spark
    import s.implicits._
    // two orthogonal directions = two clusters; ids 1/2/3 on x, 10/11 on y
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // near-dup of 1 -> dropped
      (3L, Array(0.7f, 0.7f, 0.1f, 0.0f)),     // same cluster, not near-dup
      (10L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 0.98f, 0.15f)),  // near-dup of 10 -> dropped
      (20L, Array.fill(4)(0.0f)),               // zero vector: absent
      (21L, null.asInstanceOf[Array[Float]]))   // null: absent
      .toDF("id", "vec")
    val out = Dedup.semDedup(df, "id", "vec", 0.95, nList = 2, nIters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L))
    assert(out(1L)._2 == 1L && out(2L)._2 == 0L && out(3L)._2 == 1L)
    assert(out(10L)._2 == 1L && out(11L)._2 == 0L)
    // in-cluster pairs share the cluster id; the two groups differ
    assert(out(1L)._1 == out(2L)._1 && out(2L)._1 == out(3L)._1)
    assert(out(10L)._1 == out(11L)._1 && out(1L)._1 != out(10L)._1)
  }

  test("topKPq: exact when every corpus vector is a codeword; contract holds otherwise") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, 0.0f, 0.5f)), (1L, Array(0.1f, 0.9f, 0.3f, 0.0f)),
      (2L, Array(0.0f, 0.4f, 1.0f, 0.1f)), (3L, Array(0.6f, 0.0f, 0.2f, 0.8f)),
      (4L, Array(0.3f, 0.3f, 0.3f, 0.3f)), (5L, Array(0.9f, 0.1f, 0.1f, 0.0f)))
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") < 3)
    // ksub >= |corpus|: every vector is its own nearest codeword per subspace
    // -> reconstruction is exact -> ADC cosine == brute-force cosine
    val pq = SimSearch.topKPq(q, "id", "vec", df, "id", "vec", 3,
        nSub = 2, ksub = 8, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = SimSearch.topK(q, "id", "vec", df, "id", "vec", 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pq == brute, s"pq=$pq brute=$brute")
    // lossy regime: 2 codewords for 6 vectors still returns k rows per query
    // with scores in [-1, 1] and no self-pairs
    val lossy = SimSearch.topKPq(q, "id", "vec", df, "id", "vec", 3,
      nSub = 2, ksub = 2, excludeSelf = true).collect()
    assert(lossy.length == 9)
    assert(lossy.forall(r => r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001))
    assert(lossy.forall(r => r.getLong(0) != r.getLong(1)))
    // dim not divisible by nSub fails fast
    val e = intercept[IllegalArgumentException] {
      SimSearch.topKPq(q, "id", "vec", df, "id", "vec", 1, nSub = 3)
    }
    assert(e.getMessage.contains("divisible"))
  }

  test("topNgramCharFraction: repeated phrase dominates; deterministic tie-break") {
    val df = docsDf(Seq(
      (1L, "buy now buy now buy now buy now"),   // "buy now" x4 = everything
      (2L, "the quick brown fox and the lazy dog"), // all bigrams unique
      (3L, "aa bb aa bb cc dd cc dd"),            // tie "aa bb"=2 vs "cc dd"=2 -> asc
      (4L, "one")))                               // < 2 words -> absent
    val out = CorpusStats.topNgramCharFraction(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == "buy now" && out(1L)._2 == 4L)
    // 4 occurrences x 6 chars / 24 word chars = 1.0
    assert(out(1L)._3 == 1.0, s"got $out")
    assert(out(2L)._2 == 1L && out(2L)._3 < 0.35)
    assert(out(3L)._1 == "aa bb", s"tie must break ascending: $out")
    assert(!out.contains(4L))
  }

  test("topKPq recall on clustered data: ADC top-1 mostly agrees with brute force") {
    val s = spark
    import s.implicits._
    // 4 well-separated cluster directions in 8 dims; 80 corpus vectors =
    // cluster center + small deterministic perturbation
    def vec(i: Long): Array[Float] = {
      val c = (i % 4).toInt
      Array.tabulate(8) { d =>
        val base = if (d / 2 == c) 1.0f else 0.05f
        base + 0.08f * math.sin(i * 8 + d + 1).toFloat
      }
    }
    val corpus = (0L until 80L).map(i => (i, vec(i))).toDF("id", "vec")
    val queries = corpus.filter(col("id") < 16)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col(df.columns(2)) =!= 0.0) // rank col irrelevant; take best row
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.minBy(r => -r.getDouble(2)).getLong(1) }
    val brute = top1(SimSearch.topK(queries, "id", "vec", corpus, "id", "vec", 1,
      excludeSelf = true))
    val pq = top1(SimSearch.topKPq(queries, "id", "vec", corpus, "id", "vec", 1,
      nSub = 4, ksub = 16, excludeSelf = true))
    val agree = brute.keys.count(q => pq.get(q) == brute.get(q))
    assert(agree >= brute.size * 3 / 4,
      s"PQ top-1 should mostly match brute on clustered data: $agree/${brute.size}")
    // and PQ's top-1 must at least come from the query's own cluster
    assert(pq.forall { case (q, n) => q % 4 == n % 4 }, s"got $pq")
  }

  test("topKIvfPq: degenerates to plain PQ when every list is probed") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 4 + d + 1).toFloat))
    }
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") < 4)
    val full = SimSearch.topKIvfPq(q, "id", "vec", df, "id", "vec", 3,
        nList = 3, nProbe = 3, nIters = 1, nSub = 2, ksub = 4, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = SimSearch.topKPq(q, "id", "vec", df, "id", "vec", 3,
        nSub = 2, ksub = 4, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == pq, s"ivfpq=$full pq=$pq")
    // pruned probing returns a subset of the unpruned candidates per query
    val pruned = SimSearch.topKIvfPq(q, "id", "vec", df, "id", "vec", 3,
      nList = 3, nProbe = 1, nIters = 1, nSub = 2, ksub = 4, excludeSelf = true).collect()
    assert(pruned.forall(r => pruned.count(_.getLong(0) == r.getLong(0)) <= 3))
    assert(pruned.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .forall { case (qq, nn, sc) =>
        // any returned pair that plain PQ also returned must score identically
        pq.get((qq, nn)).forall(_ == sc)
      })
  }

  test("removeDuplicateSpans: overlapping spans union-merge; full and zero removal") {
    val p1 = "abcdefghijklmnopqrstuvwxy"            // 25 chars, shared 1<->2
    val doc1 = p1 + "z0123456789ABCD"                // 40 chars; 15..40 shared 1<->3
    val p2 = doc1.substring(14)                      // 26 chars
    val df = docsDf(Seq(
      (1L, doc1),                                     // both spans overlap: all cut
      (2L, p1 + "!!!!!!"),
      (3L, "@@@@@@" + p2),
      (4L, "no overlap here at all, completely unique text")))
    val out = Dedup.removeDuplicateSpans(df, "doc_id", "text", k = 20)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (("", 40L)), s"got $out")
    assert(out(2L) == (("!!!!!!", 25L)), s"got $out")
    assert(out(3L) == (("@@@@@@", 26L)), s"got $out")
    assert(out(4L)._1 == "no overlap here at all, completely unique text" &&
      out(4L)._2 == 0L)
  }

  test("contaminatedSpans: flags exactly the benchmark-leaked passage; cut keeps the rest") {
    val leak = "the exact benchmark question text here" // 38 chars
    val corpus = docsDf(Seq(
      (10L, "intro words then " + leak + " and a long clean tail afterwards"),
      (11L, "completely original document with no benchmark content")))
    // no shared boundary chars: the true shared substring is exactly `leak`
    val bench = docsDf(Seq((1L, "Q1:" + leak + "=forty-two")))
    val spans = Decontaminate.contaminatedSpans(corpus, "doc_id", "text", bench, "text", k = 20)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // leak starts after "intro words then " (17 chars) -> 1-based 18, 38 long
    assert(spans(10L) == ((18L, 55L)), s"got $spans")
    assert(!spans.contains(11L))
    val clean = Decontaminate.removeContaminatedSpans(corpus, "doc_id", "text", bench, "text",
        k = 20)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(clean(10L) == (("intro words then  and a long clean tail afterwards", 38L)),
      s"got $clean")
    assert(clean(11L)._2 == 0L)
  }

  test("exactHistogram: clamped edge bins, occupied bins only, exact counts") {
    val s = spark
    import s.implicits._
    val df = Seq(-5.0, 0.0, 10.0, 49.9, 50.0, 99.0, 250.0, 1000.0)
      .toDF("v")
    val out = CorpusStats.exactHistogram(df, "v", 0.0, 100.0, 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    // bin 0 = [0,50): -5 (clamped), 0, 10, 49.9 ; bin 1 = [50,100): 50, 99,
    // 250 and 1000 clamp into the top bin
    assert(out(0L) == ((0.0, 50.0, 4L)), s"got $out")
    assert(out(1L) == ((50.0, 100.0, 4L)), s"got $out")
  }

  test("bpePairCounts: occurrence-weighted in-word char pairs, deterministic rank") {
    val df = docsDf(Seq((1L, "aaa aaa bb"), (2L, "ab aaa")))
    // "aaa" x3 -> "aa" x6; "ab" x1 -> "ab" x1; "bb" x1 -> "bb" x1
    val out = CorpusStats.bpePairCounts(df, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("aa", 6L, 1L), ("ab", 1L, 2L), ("bb", 1L, 3L)), s"got ${out.toSeq}")
  }

  test("pointInInterval: inclusive bounds, multi-bucket intervals, keys, guard") {
    val s = spark
    import s.implicits._
    val points = Seq((1L, "u", 5L), (2L, "u", 10L), (3L, "u", 25L), (4L, "v", 5L),
      (5L, "u", 11L)).toDF("pid", "k", "t")
    val ivs = Seq(("u", 100L, 5L, 10L), ("u", 200L, 24L, 95L), ("v", 300L, 0L, 4L))
      .toDF("k", "iid", "s", "e")
    val out = IntervalJoin.pointInInterval(points, "t", ivs, "s", "e",
        bucketWidth = 3L, keyCols = Seq("k"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1:[5,10] and 2:[5,10] inclusive ends; 3 in the 24..95 multi-bucket
    // interval; 4 (v, t=5) NOT in v's [0,4]; 5 (t=11) in nothing
    assert(out == Set((1L, 100L), (2L, 100L), (3L, 200L)), s"got $out")
    // same result at a width that makes every interval single-bucket vs tiny
    val out2 = IntervalJoin.pointInInterval(points, "t", ivs, "s", "e",
        bucketWidth = 1000L, keyCols = Seq("k"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2 == out)
    // bucket-fanout guard trips with the offending interval in the message
    val e = intercept[Exception] {
      IntervalJoin.pointInInterval(points, "t", ivs, "s", "e",
        bucketWidth = 3L, keyCols = Seq("k"), maxBucketsPerInterval = 2L).collect()
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
    // non-key column collision fails fast
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.pointInInterval(points, "t",
        ivs.withColumnRenamed("iid", "pid"), "s", "e", 3L, Seq("k"))
    }
    assert(e2.getMessage.contains("disjoint"))
  }

  test("intervalOverlap: inclusive overlap, exactly-once across shared buckets") {
    val s = spark
    import s.implicits._
    val a = Seq(("u", 1L, 0L, 10L), ("u", 2L, 20L, 21L), ("u", 3L, 30L, 90L))
      .toDF("k", "aid", "as", "ae")
    val b = Seq(("u", 10L, 10L, 12L), ("u", 20L, 15L, 40L), ("u", 30L, 95L, 99L),
      ("w", 40L, 0L, 100L)).toDF("k", "bid", "bs", "be")
    for (width <- Seq(3L, 7L, 1000L)) {
      val out = IntervalJoin.intervalOverlap(a, "as", "ae", b, "bs", "be",
          bucketWidth = width, keyCols = Seq("k"))
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // (1,10) touch at 10 (inclusive); (2,20) and (3,20) overlap 20's long
      // span; 30 [95,99] misses 3 [30,90]; 40 is another key
      assert(out == Set((1L, 10L), (2L, 20L), (3L, 20L)), s"width=$width got $out")
    }
  }

  test("pointInIntervalBroadcast: row-identical to the bucketed path; guards fail fast") {
    val s = spark
    import s.implicits._
    val points = Seq((1L, "u", 5L), (2L, "u", 10L), (3L, "u", 25L), (4L, "v", 5L),
      (5L, "u", 11L), (6L, null.asInstanceOf[String], 5L)).toDF("pid", "k", "t")
    // overlapping intervals: a point inside both must emit BOTH rows
    val ivs = Seq(("u", 100L, 5L, 10L), ("u", 150L, 8L, 12L), ("u", 200L, 24L, 95L),
      ("v", 300L, 0L, 4L)).toDF("k", "iid", "s", "e")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = rows(IntervalJoin.pointInInterval(points, "t", ivs, "s", "e",
      bucketWidth = 3L, keyCols = Seq("k")))
    val bcast = rows(IntervalJoin.pointInIntervalBroadcast(points, "t", ivs, "s", "e",
      keyCols = Seq("k")))
    assert(bcast == bucketed, s"bcast=$bcast bucketed=$bcast")
    assert(bcast.contains((2L, 100L)) && bcast.contains((2L, 150L)), s"multi-match: $bcast")
    // two key columns unsupported on the broadcast path
    val e1 = intercept[IllegalArgumentException] {
      IntervalJoin.pointInIntervalBroadcast(points, "t", ivs, "s", "e", Seq("k", "pid"))
    }
    assert(e1.getMessage.contains("one key column"))
    // fractional point type fails fast
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.pointInIntervalBroadcast(
        points.withColumn("t", col("t").cast("double")), "t", ivs, "s", "e", Seq("k"))
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("interval joins bucket exactly beyond 2^53 and floor negatives") {
    val s = spark
    import s.implicits._
    // epoch-nanos scale: ulp(double) = 512 here, so double-based bucketing
    // would distort boundaries; the pmod bucketing must be exact
    val base = 4600000000000000000L
    val w = 1000000000L
    val ts = (0 until 8).map(i => base + i * 300L - 1200L)
    val ivs = Seq((100L, base - 1000L, base + 500L), (200L, base + 600L, base + 900L))
    val out = IntervalJoin.pointInInterval(
        ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pid", "t"), "t",
        ivs.toDF("iid", "s", "e"), "s", "e", bucketWidth = w)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (t, i) <- ts.zipWithIndex
      (iid, lo, hi) <- ivs if t >= lo && t <= hi
    } yield (i.toLong, iid)).toSet
    assert(out == brute, s"got $out want $brute")
    // negative values use floor semantics (bucket of -1 at width 10 is [-10,-1],
    // not [0,9] as truncate-toward-zero would give)
    val nout = IntervalJoin.pointInInterval(
        Seq((1L, -5L), (2L, -10L), (3L, -11L), (4L, 0L)).toDF("pid", "t"), "t",
        Seq((9L, -10L, -5L)).toDF("iid", "s", "e"), "s", "e", bucketWidth = 10L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nout == Set((1L, 9L), (2L, 9L)), s"got $nout")
    // intervalOverlap now carries the same positivity guard pointInInterval has
    val e = intercept[IllegalArgumentException] {
      IntervalJoin.intervalOverlap(
        Seq((1L, 0L, 1L)).toDF("aid", "as", "ae"), "as", "ae",
        Seq((2L, 0L, 1L)).toDF("bid", "bs", "be"), "bs", "be",
        bucketWidth = 10L, maxBucketsPerInterval = 0L)
    }
    assert(e.getMessage.contains("maxBucketsPerInterval"))
  }

  test("pqTrainModel: a Lloyd pass moves codewords and never hurts clustered recall") {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] = {
      val c = (i % 4).toInt
      Array.tabulate(8) { d =>
        val base = if (d / 2 == c) 1.0f else 0.05f
        base + 0.08f * math.sin(i * 8 + d + 1).toFloat
      }
    }
    val corpus = (0L until 80L).map(i => (i, vec(i))).toDF("id", "vec")
    val queries = corpus.filter(col("id") < 16)
    // training moved at least one codeword off its id-seeded start
    val m0 = SimSearch.pqTrainModel(corpus, "id", "vec", nSub = 4, ksub = 8, nIters = 0)
    val m1 = SimSearch.pqTrainModel(corpus, "id", "vec", nSub = 4, ksub = 8, nIters = 1)
    assert(m0.cw.flatten.map(_.toSeq) != m1.cw.flatten.map(_.toSeq), "training was a no-op")
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.minBy(r => -r.getDouble(2)).getLong(1) }
    val brute = top1(SimSearch.topK(queries, "id", "vec", corpus, "id", "vec", 1,
      excludeSelf = true))
    val seeded = top1(SimSearch.topKPq(queries, "id", "vec", corpus, "id", "vec", 1,
      nSub = 4, ksub = 8, nIters = 0, excludeSelf = true))
    val trained = top1(SimSearch.topKPq(queries, "id", "vec", corpus, "id", "vec", 1,
      nSub = 4, ksub = 8, nIters = 1, excludeSelf = true))
    val agreeSeeded = brute.keys.count(q => seeded.get(q) == brute.get(q))
    val agreeTrained = brute.keys.count(q => trained.get(q) == brute.get(q))
    assert(agreeTrained >= agreeSeeded,
      s"trained recall regressed: $agreeTrained < $agreeSeeded of ${brute.size}")
  }

  test("pqEncode/pqSearchEncoded: bit-identical to fused topKPq; codes round-trip past 127") {
    val s = spark
    import s.implicits._
    // 140 distinct sub-vectors with ksub = 140: every vector is its own
    // codeword, so codes span 0..139 and exercise the signed-byte round-trip
    val corpus = (0L until 140L).map { i =>
      (i, Array((2 * i + 1).toFloat, (2 * i + 2).toFloat, (1000 - i).toFloat, (i % 7).toFloat))
    }.toDF("id", "vec")
    val queries = corpus.filter(col("id") < 6)
    val model = SimSearch.pqTrainModel(corpus, "id", "vec", nSub = 2, ksub = 140, nIters = 0)
    val enc = SimSearch.pqEncode(corpus, "id", "vec", model)
    assert(enc.columns.toSeq == Seq("id", "codes"))
    assert(enc.count() == 140)
    val maxCode = enc.collect().flatMap(_.getAs[Array[Byte]](1)).map(_ & 0xFF).max
    assert(maxCode > 127, s"fixture must produce codes past 127, got max $maxCode")
    val fused = SimSearch.topKPq(queries, "id", "vec", corpus, "id", "vec", 3,
        nSub = 2, ksub = 140, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val split = SimSearch.pqSearchEncoded(enc, "id", "codes",
        queries, "id", "vec", model, 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(split == fused, s"split=$split fused=$fused")
  }

  test("topKIvfPq recall quantified on clustered data (full-vector codes, pruned probes)") {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] = {
      val c = (i % 4).toInt
      Array.tabulate(8) { d =>
        val base = if (d / 2 == c) 1.0f else 0.05f
        base + 0.08f * math.sin(i * 8 + d + 1).toFloat
      }
    }
    val corpus = (0L until 80L).map(i => (i, vec(i))).toDF("id", "vec")
    val queries = corpus.filter(col("id") < 16)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.minBy(r => -r.getDouble(2)).getLong(1) }
    val brute = top1(SimSearch.topK(queries, "id", "vec", corpus, "id", "vec", 1,
      excludeSelf = true))
    // the documented trade (codes quantize FULL vectors, not IVF residuals)
    // measured: on this fixture pruned IVF-PQ top-1 still agrees with brute on
    // >= 3/4 of queries and never leaves the query's cluster
    val ivfpq = top1(SimSearch.topKIvfPq(queries, "id", "vec", corpus, "id", "vec", 1,
      nList = 4, nProbe = 2, nIters = 1, nSub = 4, ksub = 16, pqIters = 1,
      excludeSelf = true))
    val agree = brute.keys.count(q => ivfpq.get(q) == brute.get(q))
    assert(agree >= brute.size * 3 / 4,
      s"IVF-PQ top-1 vs brute: $agree/${brute.size}")
    assert(ivfpq.forall { case (q, n) => q % 4 == n % 4 }, s"left own cluster: $ivfpq")
  }

  test("minHashSignatures/nearDupFromSignatures: estimate tracks exact Jaccard; empty docs absent") {
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val df = docsDf(Seq(
      (1L, near),
      (2L, near + " ok"),                       // near-dup of 1
      (3L, "completely different words that share nothing with the others at all yes"),
      (4L, "xy")))                              // < 3 words: no shingles → absent
    val sigs = Dedup.minHashSignatures(df, "doc_id", "text")
    assert(sigs.columns.toSeq == Seq("doc_id", "sig"))
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigMap.keySet == Set(1L, 2L, 3L))
    assert(sigMap.values.forall(_.length == graft.functions.TextFunctions.MinHashK))
    // the estimate equals the hand-computed matching-minima fraction
    val out = Dedup.nearDupFromSignatures(sigs, "doc_id", "sig", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expect = (sigMap(1L) zip sigMap(2L)).count { case (a, b) => a == b } / 32.0
    assert(expect >= 0.3, s"fixture must band-collide and estimate high, got $expect")
    assert(out.keySet == Set((1L, 2L)), s"got $out")
    assert(out((1L, 2L)) == BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a high threshold filters the pair out
    assert(Dedup.nearDupFromSignatures(sigs, "doc_id", "sig", 0.999).collect().isEmpty ||
      expect >= 0.999)
  }

  test("exactIncrement: seen digests and within-batch dupes both drop; novel rows keep") {
    val seenDocs = docsDf(Seq((1L, "already kept text"), (2L, "other old text")))
    val batch = docsDf(Seq(
      (10L, "already kept text"),   // dup of the seen frame -> dropped
      (11L, "brand new text"),      // novel, first holder -> kept
      (12L, "brand new text"),      // within-batch dup of 11 -> dropped
      (13L, "another novel one")))  // kept
    val seen = Dedup.exactDigests(seenDocs, "text")
    assert(seen.count() == 2)
    val out = Dedup.exactIncrement(batch, "doc_id", "text", seen)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(10L -> 0L, 11L -> 1L, 12L -> 0L, 13L -> 1L), s"got $out")
  }

  test("nearDupFromSignaturesBetween: cross-corpus pairs match the self-join restricted") {
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val a = docsDf(Seq((1L, near), (3L, "one corpus text that stands alone fine here ok")))
    val b = docsDf(Seq((2L, near + " ok"), (4L, "different other corpus text nothing shared")))
    val sa = Dedup.minHashSignatures(a, "doc_id", "text")
    val sb = Dedup.minHashSignatures(b, "doc_id", "text")
    val cross = Dedup.nearDupFromSignaturesBetween(
        sa, "doc_id", "sig", sb, "doc_id", "sig", 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the only near pair across corpora is (1, 2); estimate equals the
    // self-join form's estimate for the same pair
    val self = Dedup.nearDupFromSignatures(
        Dedup.minHashSignatures(a.union(b), "doc_id", "text"), "doc_id", "sig", 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cross.keySet == Set((1L, 2L)), s"got $cross")
    assert(self.get((1L, 2L)) == cross.get((1L, 2L)), s"self=$self cross=$cross")
  }

  test("Bm25.topKIndexed over a persisted index equals fused topK") {
    val docs = docsDf(Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "spark spark spark overload of one term"),
      (3L, "completely unrelated words appear here"),
      (4L, "data between the stages moves in a shuffle"),
      (5L, "")))
    val queries = docsDf(Seq((10L, "spark shuffle data"), (11L, "unrelated appear")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fused = rows(graft.operators.Bm25.topK(docs, "doc_id", "text",
      queries, "doc_id", "text", 3))
    val idx = graft.operators.Bm25.index(docs, "doc_id", "text")
    assert(idx.columns.toSeq == Seq("doc", "dl", "term", "tf"))
    assert(!idx.collect().map(_.getLong(0)).contains(5L)) // empty doc absent
    val indexed = rows(graft.operators.Bm25.topKIndexed(idx, queries, "doc_id", "text", 3))
    assert(indexed == fused, s"indexed=$indexed fused=$fused")
    assert(fused.nonEmpty)
  }

  test("topKSq: int8 cosine tracks exact; zero/null rows absent; scale cancels") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 4 + d + 1).toFloat))
    } ++ Seq(
      (100L, Array.fill(4)(0.0f)),                 // zero: no angle → absent
      (101L, null.asInstanceOf[Array[Float]]))     // null → absent
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") < 4)
    val sq = SimSearch.topKSq(q, "id", "vec", df, "id", "vec", 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = SimSearch.topK(q, "id", "vec", df, "id", "vec", 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sq.keys.forall { case (_, n) => n < 100L }, s"ineligible rows leaked: $sq")
    // int8 rounding moves cosines < ~1%; every returned pair's score is close
    // to the exact cosine of the same pair (when exact returned it too)
    sq.foreach { case (pair, c) =>
      exact.get(pair).foreach(e => assert(math.abs(c - e) < 0.02, s"$pair sq=$c exact=$e"))
    }
    // scaling the corpus leaves SQ cosine identical (scale cancels)
    val scaled = df.select(col("id"),
      transform(col("vec"), x => x * lit(3.0f)).as("vec"))
    val sq2 = SimSearch.topKSq(q, "id", "vec", scaled, "id", "vec", 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sq2 == sq, s"scaled=$sq2 base=$sq")
  }

  test("contaminatedSpansBloom: identical spans to the broadcast path") {
    val leak = "this exact benchmark sentence leaked straight into the corpus"
    val corpus = docsDf(Seq(
      (10L, "prefix text " + leak + " and a suffix"),
      (11L, "totally clean document with nothing from any benchmark in it"),
      (12L, leak)))
    val bench = docsDf(Seq((1L, leak), (2L, "other benchmark content here")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = rows(Decontaminate.contaminatedSpans(corpus, "doc_id", "text", bench, "text"))
    val bloom = rows(Decontaminate.contaminatedSpansBloom(corpus, "doc_id", "text", bench, "text"))
    assert(exact.nonEmpty && exact.exists(_._1 == 10L) && exact.exists(_._1 == 12L))
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
  }

  test("ivfPqEncode/ivfPqSearchEncoded: bit-identical to fused topKIvfPq") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 4 + d + 1).toFloat))
    }
    val df = vecs.toDF("id", "vec")
    val q = df.filter(col("id") < 6)
    val ivf = SimSearch.ivfTrainModel(df, "id", "vec", nList = 3, nIters = 1)
    val pq = SimSearch.pqTrainModel(df, "id", "vec", nSub = 2, ksub = 4, nIters = 1)
    val enc = SimSearch.ivfPqEncode(df, "id", "vec", ivf, pq)
    assert(enc.columns.toSeq == Seq("id", "list", "codes"))
    assert(enc.count() == 40)
    val split = SimSearch.ivfPqSearchEncoded(enc, "id", "list", "codes",
        q, "id", "vec", ivf, pq, 3, nProbe = 2, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fused = SimSearch.topKIvfPq(q, "id", "vec", df, "id", "vec", 3,
        nList = 3, nProbe = 2, nIters = 1, nSub = 2, ksub = 4, pqIters = 1,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(split == fused, s"split=$split fused=$fused")
  }

  test("topKIvfPqResidual: residual codes beat (or tie) full-vector codes on clustered data") {
    val s = spark
    import s.implicits._
    // clusters carry the coarse structure; at a tiny ksub the full-vector
    // codebooks must spend their budget re-modeling cluster directions while
    // residual codebooks only model the within-cluster perturbation
    def vec(i: Long): Array[Float] = {
      val c = (i % 4).toInt
      Array.tabulate(8) { d =>
        val base = if (d / 2 == c) 1.0f else 0.05f
        base + 0.08f * math.sin(i * 8 + d + 1).toFloat
      }
    }
    val corpus = (0L until 80L).map(i => (i, vec(i))).toDF("id", "vec")
    val queries = corpus.filter(col("id") < 16)
    // recall@5 vs brute (top-1 at tiny ksub collapses into code-cell ties and
    // measures only the id tie-break; set overlap measures the codes)
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .take(5).map(_.getLong(1)).toSet }
    val brute = top5(SimSearch.topK(queries, "id", "vec", corpus, "id", "vec", 5,
      excludeSelf = true))
    val full = top5(SimSearch.topKIvfPq(queries, "id", "vec", corpus, "id", "vec", 5,
      nList = 4, nProbe = 2, nIters = 1, nSub = 4, ksub = 4, pqIters = 1,
      excludeSelf = true))
    val resid = top5(SimSearch.topKIvfPqResidual(queries, "id", "vec", corpus, "id", "vec", 5,
      nList = 4, nProbe = 2, nIters = 1, nSub = 4, ksub = 4, pqIters = 1,
      excludeSelf = true))
    def recall(m: Map[Long, Set[Long]]): Int =
      brute.keys.toSeq.map(q => (m.getOrElse(q, Set.empty) intersect brute(q)).size).sum
    val recallFull = recall(full)
    val recallResid = recall(resid)
    info(s"recall@5 vs brute: residual $recallResid, full-vector $recallFull, max ${5 * brute.size}")
    assert(recallResid >= recallFull,
      s"residual recall@5 regressed vs full-vector codes: $recallResid < $recallFull " +
        s"of ${5 * brute.size}")
    // sanity: scores are cosines and self-pairs are excluded
    val rows = SimSearch.topKIvfPqResidual(queries, "id", "vec", corpus, "id", "vec", 3,
      nList = 4, nProbe = 2, nIters = 1, nSub = 4, ksub = 4, pqIters = 1,
      excludeSelf = true).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("removeDuplicateSpansWords: cut = first char of first word .. last char of last") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val df = docsDf(Seq(
      (1L, "xx yy " + shared + " zz"),
      (2L, shared + " ww"),
      (3L, "unrelated words entirely here nothing shared at all")))
    val out = Dedup.removeDuplicateSpansWords(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the span covers exactly the shared words' chars: flanking separators
    // survive, inner separators go with the span
    assert(out(1L) == ("xx yy " + " zz", shared.length.toLong), s"got ${out(1L)}")
    assert(out(2L) == (" ww", shared.length.toLong), s"got ${out(2L)}")
    assert(out(3L)._1 == "unrelated words entirely here nothing shared at all")
    assert(out(3L)._2 == 0L)
  }

  test("duplicateSpansWords: word-unit spans; word-salad swaps are NOT merged") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = docsDf(Seq(
      (1L, "xx yy " + shared + " zz"),
      (2L, shared + " ww vv"),
      // same multiset of words, different order: must NOT be marked (this is
      // the exact case a weight-cycling sum hash collided on)
      (3L, "beta alpha delta gamma zeta epsilon theta eta kappa iota"),
      (4L, "unrelated words entirely here nothing shared at all now ok")))
    val out = Dedup.duplicateSpansWords(df, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: shared = words 3..12 (10 words, 3 grams of 8); doc 2: words 1..10
    assert(out(1L) == ((3L, 12L, 3L)), s"got $out")
    assert(out(2L) == ((1L, 10L, 3L)), s"got $out")
    assert(!out.contains(3L) && !out.contains(4L), s"got $out")
  }

  test("Sampling: key-stable buckets, subset sampling, split ranges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = Sampling.withSplit(docs, "doc_id", 80, 10)
      .select(col("doc_id"), col("bucket"), col("split"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // deterministic: same key -> same bucket on re-run
    val again = Sampling.withSplit(docs, "doc_id", 80, 10)
      .select(col("doc_id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(split.map { case (k, v) => k -> v._1 } == again)
    split.values.foreach { case (b, s) =>
      assert(b >= 0 && b < 100)
      assert(s == (if (b < 80) "train" else if (b < 90) "val" else "test"))
    }
    // deterministicSample(keep=80) == the train split rows
    val sampled = Sampling.deterministicSample(docs, "doc_id", 80)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == split.filter(_._2._2 == "train").keySet)
  }

  test("Bm25.topK: rare-term match outranks common-term match; contract holds") {
    val corpus = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the the the the the the"),
      (3L, "quick delivery of the parcel"),
      (4L, "zebra quagga okapi"),
      (5L, "a brown dog and a brown cat and the fox")))
    val queries = docsDf(Seq((100L, "quick brown fox")))
    val res = Bm25.topK(corpus, "doc_id", "text", queries, "doc_id", "text", 3)
      .orderBy(col("rank")).collect()
    assert(res.length <= 3)
    // doc 1 holds all three query terms — must rank first
    assert(res.head.getAs[Long]("doc_id") == 1L)
    assert(res.head.getAs[Long]("rank") == 1L)
    // ranks are 1..n dense, scores non-increasing, all scores positive
    assert(res.map(_.getAs[Long]("rank")).toSeq == (1L to res.length).toSeq)
    val scores = res.map(_.getAs[Long]("score_micro")).toSeq
    assert(scores == scores.sorted.reverse && scores.forall(_ > 0L))
    // stopword-only doc 2 matches nothing ("the" is not in the query)
    assert(!res.map(_.getAs[Long]("doc_id")).contains(2L))
    // determinism under re-partitioning
    val again = Bm25.topK(corpus.repartition(7), "doc_id", "text",
      queries, "doc_id", "text", 3).orderBy(col("rank")).collect()
    assert(res.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("Bm25.topK: length normalization prefers the shorter doc at equal tf") {
    val corpus = docsDf(Seq(
      (1L, "alpha beta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "unrelated words entirely")))
    val res = Bm25.topK(corpus, "doc_id", "text",
        docsDf(Seq((9L, "alpha"))), "doc_id", "text", 2)
      .orderBy(col("rank")).collect()
    assert(res.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(res(0).getAs[Long]("score_micro") > res(1).getAs[Long]("score_micro"))
  }

  test("Decontaminate.fuzzyFlagged: catches the paraphrased leak the exact rule misses") {
    val bench = docsDf(Seq(
      (100L, "what is the capital of france the capital of france is paris a beautiful city")))
    val corpus = docsDf(Seq(
      // near-copy with a light MID-DOC edit ("the"→"which" at word 7): the
      // doc is 15 words, so all three 13-grams cover words 3-13 and every one
      // breaks — while 9 of the 3-word shingles survive (jaccard 9/14 ≈ 0.64).
      // (A tail edit would NOT do: grams 1-2 of a 15-word doc skip the last
      // words and still collide exactly.)
      (1L, "what is the capital of france which capital of france is paris a beautiful city"),
      (2L, "completely unrelated text about spark partitioning and shuffles at scale"),
      // shares only one 3-shingle region — below 0.5
      (3L, "the capital of france has museums")))
    val flagged = Decontaminate.fuzzyFlagged(corpus, "doc_id", "text",
      bench, "doc_id", "text", 0.5).collect()
    assert(flagged.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    assert(flagged.head.getAs[Long]("bench_id") == 100L)
    assert(flagged.head.getAs[Double]("jaccard") >= 0.5)
    // but the exact 13-gram rule misses it (the edit breaks every 13-gram)
    val exact = Decontaminate.flagged(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 13).collect()
    assert(!exact.map(_.getAs[Long]("doc_id")).contains(1L))
  }

  test("Sampling.withSourceCap: at most cap rows per source, deterministic, null raises") {
    val s = spark
    import s.implicits._
    val df = (1L to 40L).map(i => (i, if (i % 4 == 0L) "rare" else "common")).toDF("id", "src")
    val capped = Sampling.withSourceCap(df, "id", "src", 5).collect()
    val bySrc = capped.groupBy(_.getAs[String]("src")).view.mapValues(_.length).toMap
    assert(bySrc("common") == 5 && bySrc("rare") == 5)
    capped.foreach(r => assert(r.getAs[Long]("src_rank") >= 0 && r.getAs[Long]("src_rank") < 5))
    // key-stable: survivors don't change when the frame is re-partitioned
    val again = Sampling.withSourceCap(df.repartition(11), "id", "src", 5)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == capped.map(_.getAs[Long]("id")).toSet)
    val withNull = df.withColumn("src",
      when(col("id") === 7L, lit(null: String)).otherwise(col("src")))
    intercept[Exception] { Sampling.withSourceCap(withNull, "id", "src", 5).collect() }
  }

  test("redactPii and repetitionRatio behave on crafted docs") {
    val df = docsDf(Seq(
      (1L, "mail me at bob.smith+x@example.co.uk or visit https://example.com/a?b=c now"),
      (2L, "call +1 555-123-4567 or 555 867-5309"),
      (3L, "line\nline\nline\nother"),
      (4L, "no pii here")))
    val out = df.select(col("doc_id"),
        TextFunctions.redactPiiCol(col("text")).as("r"),
        TextFunctions.repetitionRatioCol(col("text")).as("rep"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == "mail me at <EMAIL> or visit <URL> now")
    assert(out(2L)._1 == "call +1 <PHONE> or <PHONE>")
    assert(out(3L)._2 == 0.5) // 4 non-empty lines, 2 distinct
    assert(out(4L) == (("no pii here", 0.0)))
  }

  test("quantizeInt8 round-trips within scale/2 and hits ±127 at extremes") {
    val (scale, q) = Embeddings.quantizeInt8Vec(Seq(1.0f, -1.0f, 0.5f, 0.0f))
    assert(q == Seq(127, -127, 64, 0))
    assert(math.abs(scale - 1.0 / 127.0) < 1e-12)
    // dequantization error bounded by scale/2 per element
    val v = Seq(0.3f, -0.7f, 0.11f, 0.99f)
    val (s2, q2) = Embeddings.quantizeInt8Vec(v)
    v.zip(q2).foreach { case (x, qi) =>
      assert(math.abs(x.toDouble - qi * s2) <= s2 / 2 + 1e-12)
    }
    assert(Embeddings.quantizeInt8Vec(Seq(0.0f, 0.0f)) == ((0.0, Seq(0, 0))))
  }

  // ---- Multimodal ---------------------------------------------------------

  test("multimodal: payload/meta/features plumbing") {
    val df = docsDf(Seq((1L, "hello world"), (2L, "")))
    val withP = Multimodal.withBinaryPayload(df, "text", "payload")
    val meta = Multimodal.withDecodedMeta(withP, "payload")
    val m = meta.select(col("doc_id"), col("media_meta.n_bytes"), col("media_sha"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m(1L)._1 == 11L)
    assert(m(1L)._2.length == 64) // sha-256 hex
    val feats = Multimodal.extractFeatures(withP, "doc_id", "payload", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L).length == 8)
    assert(math.abs(feats(1L).sum - 1.0f) < 1e-5) // normalized histogram
    assert(feats(2L).sum == 0.0f)

    // resize + frame-sample stubs: schema and determinism contracts
    val rs = withP.select(col("doc_id"),
        Multimodal.resizeStub(col("payload"), 4, 4).as("resized"),
        Multimodal.frameSample(col("payload"), 3).as("frames"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Array[Byte]](1), r.getSeq[Array[Byte]](2))).toMap
    assert(rs(1L)._1.length == 16)
    assert(rs(1L)._2.length == 3)
    assert(rs(1L)._2.map(_.length).sum == 11) // frames partition the payload
    assert(rs(2L)._1 == null && rs(2L)._2.isEmpty)
  }

  test("multimodal: real PNG/JPEG header decode via javax.imageio") {
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def jpegBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, pngBytes(37, 23)), (2L, jpegBytes(64, 48)),
      (3L, "not an image".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "payload")
      .select(col("id"), col("media_meta.format"), col("media_meta.width"),
        col("media_meta.height"), col("media_meta.n_bytes"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    assert(out(1L)._1 == "image/png" && out(1L)._2 == 37 && out(1L)._3 == 23)
    assert(out(2L)._1 == "image/jpeg" && out(2L)._2 == 64 && out(2L)._3 == 48)
    // non-image payload keeps the deterministic stub (oracle-mirrored formula)
    val n = "not an image".getBytes("UTF-8").length.toLong
    assert(out(3L) == ("stub/raw", ((n * 7919) % 1024 + 1).toInt, ((n * 104729) % 1024 + 1).toInt, n))
    // ASCII text that happens to start with image-ish letters must NOT decode
    for (tricky <- Seq("BMW sales rose in fiscal 2024 beyond all expectations",
                       "GIFted students attended the annual mathematics olympiad")) {
      val meta = Multimodal.decodeMeta(tricky.getBytes("UTF-8"))
      assert(meta.format == "stub/raw", s"'$tricky' decoded as ${meta.format}")
    }
  }

  // ---- Streaming ----------------------------------------------------------

  test("events windowed agg: batch and streaming paths agree") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:05:00"), "click", 1.5),
      (Timestamp.valueOf("2024-01-01 00:55:00"), "click", 2.5),
      (Timestamp.valueOf("2024-01-01 01:05:00"), "view", 4.0))
    val batch = rows.toDF("ts", "event_type", "value")
    val got = EventWindows.hourlyByType(batch)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("2024-01-01 00:00:00", "click", 2L, 4.0),
      ("2024-01-01 01:00:00", "view", 1L, 4.0)))

    // streaming path: same transformation behind a file stream, update mode
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    batch.write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(batch.schema).parquet(dir + "/in")
    val q = EventWindows.hourlyByTypeStream(stream).writeStream
      .format("memory").queryName("evt_stream").outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("evt_stream")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == got)
    } finally q.stop()

    // sliding 2h/1h: every event in exactly two windows, batch == stream
    val sliding = EventWindows.slidingTwoHourByType(batch)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(sliding == Set(
      ("2023-12-31 23:00:00", "click", 2L, 4.0),
      ("2024-01-01 00:00:00", "click", 2L, 4.0),
      ("2024-01-01 00:00:00", "view", 1L, 4.0),
      ("2024-01-01 01:00:00", "view", 1L, 4.0)))
    val q2 = EventWindows.slidingTwoHourByTypeStream(stream).writeStream
      .format("memory").queryName("evt_sliding").outputMode("update").start()
    try {
      q2.processAllAvailable()
      val streamed2 = spark.table("evt_sliding")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed2 == sliding)
    } finally q2.stop()
  }

  test("Sampling.weightedTopK: deterministic, weight-monotone on equal u, guards raise") {
    val s = spark
    import s.implicits._
    val rows = (1L to 200L).map(i => (i, (i % 17 + 1) * 10.0)).toDF("k", "w")
    val a = Sampling.weightedTopK(rows, "k", "w", 25)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val b = Sampling.weightedTopK(rows.repartition(7), "k", "w", 25)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(a.size == 25 && a == b, "sample must be partitioning-invariant")
    // priority = (w_milli << 20) div u: doubling the weight at the SAME key
    // (same u) exactly doubles the dividend, so priority never decreases
    val doubled = Sampling.weightedTopK(
        rows.select(col("k"), (col("w") * 2).as("w")), "k", "w", 25)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val base = a.toMap
    base.foreach { case (k, p) =>
      doubled.get(k).foreach(p2 => assert(p2 >= p, s"doubling weight lowered priority for $k"))
    }
    // the plan is a top-k, not a global sort
    val plan = Sampling.weightedTopK(rows, "k", "w", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$plan")
    // zero / negative / overflow weights fail fast
    intercept[Exception] {
      Sampling.weightedTopK(Seq((1L, 0.0)).toDF("k", "w"), "k", "w", 1).collect()
    }
    intercept[Exception] {
      Sampling.weightedTopK(Seq((1L, 1e13)).toDF("k", "w"), "k", "w", 1).collect()
    }
  }

  test("Dedup.duplicateSpansAll: within-doc repeat flagged; distinct-doc rule ignores it") {
    val K = 6
    // one doc repeats a 10-char phrase twice with unique filler; no other doc
    // shares it — the distinct-doc rule sees nothing, the total rule spans both
    val docs = docsDf(Seq(
      (0L, "XXabcdefghijYYabcdefghijZZ"),
      (1L, "totally unrelated content")))
    val crossOnly = Dedup.duplicateSpans(docs, "doc_id", "text", k = K)
      .collect()
    assert(crossOnly.isEmpty, "distinct-doc rule must ignore within-doc repeats")
    val all = Dedup.duplicateSpansAll(docs, "doc_id", "text", k = K)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(all.nonEmpty && all.forall(_._1 == 0L), s"self-repeat must be spanned: ${all.toList}")
    // both occurrences of the repeated phrase are covered
    val covered = all.flatMap { case (_, s0, e0) => s0 to e0 }.toSet
    val text = "XXabcdefghijYYabcdefghijZZ"
    val first = text.indexOf("abcdefghij") + 1
    val second = text.indexOf("abcdefghij", first) + 1
    assert((first until first + 10).forall(p => covered(p.toLong)) &&
      (second until second + 10).forall(p => covered(p.toLong)))
  }

  test("Sampling.weightedTopKByGroup: per-group k, partitioning-invariant, WindowGroupLimit") {
    val s = spark
    import s.implicits._
    val rows = (1L to 120L).map(i => (i, (i % 13 + 1) * 5.0, s"src${i % 3}"))
      .toDF("k", "w", "g")
    val a = Sampling.weightedTopKByGroup(rows, "k", "w", "g", 7)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    val b = Sampling.weightedTopKByGroup(rows.repartition(11), "k", "w", "g", 7)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(a == b && a.size == 21, "per-group sample must be partitioning-invariant")
    assert(a.groupBy(_._2).values.forall(_.size == 7))
    // kept rows are exactly the per-group top-7 of the full priority ranking
    val full = Sampling.weightedTopKByGroup(rows, "k", "w", "g", 1000)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getLong(0))).toSeq
    val expect = full.groupBy(_._1).flatMap { case (_, xs) =>
      xs.sortBy(t => (-t._2, t._3)).take(7).map(t => (t._3, t._1, t._2))
    }.toSet
    assert(a == expect)
    val plan = Sampling.weightedTopKByGroup(rows, "k", "w", "g", 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("Dedup.editVerifiedPairs: near-identical verified, distant rejected, identical = 0") {
    // long shared prefix of DISTINCT alphabetic words (the shingle tokenizer
    // drops digits, so "word1 word2 …" collapses to one token): ~97/99
    // shingles shared (j ≈ 0.97) makes the fixed-hash 8×4 banding collide
    // with near-certainty — short fixtures can deterministically miss
    val shared = (0 until 100)
      .map(i => s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")
    val docs = docsDf(Seq(
      (0L, shared + " ending"),
      (1L, shared + " endinz"),
      (2L, "completely different subject matter with no overlapping phrases at all here now")))
    val pairs = Dedup.editVerifiedPairs(docs, "doc_id", "text", 350L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 >= 0L && p._3 <= 50L),
      s"one-char edit must verify tiny: ${pairs.toList}")
    assert(pairs.forall(p => p._1 != 2L && p._2 != 2L), s"distant doc paired: ${pairs.toList}")
    val same = docsDf(Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta")))
    val sp = Dedup.editVerifiedPairs(same, "doc_id", "text", 0L).collect()
    assert(sp.length == 1 && sp(0).getLong(2) == 0L)
  }

  test("Dedup.knnGraph: <= k neighbors per src, contiguous ranks, partitioning-invariant") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val g = Dedup.knnGraph(vecs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(g.nonEmpty)
    g.groupBy(_._1).values.foreach { xs =>
      assert(xs.length <= 3)
      val sorted = xs.sortBy(_._4).toSeq
      assert(sorted.map(_._4) == (1L to sorted.size), s"ranks not contiguous: $sorted")
      sorted.zip(sorted.drop(1)).foreach { case (x, y) =>
        assert(x._3 > y._3 || (x._3 == y._3 && x._2 < y._2),
          s"rank order violates (cosine desc, nbr asc): $sorted")
      }
    }
    val g2 = Dedup.knnGraph(vecs.repartition(5), "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(g.toSet == g2.toSet, "kNN graph must be partitioning-invariant")
    // r15 shape: dedup + rank fused into ONE bounded typed aggregation —
    // no candidate-sized dropDuplicates exchange, no rank window
    val plan = Dedup.knnGraph(vecs, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window("), plan)
    assert(plan.contains("Aggregate"), plan)
  }

  test("Sampling.mixtureEpochs: integer repeat factors; weight-sum guard") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 100L), ("a", 100L), ("b", 50L)).toDF("src", "n")
    val r = Sampling.mixtureEpochs(df, "src", "n", Map("a" -> 600L, "b" -> 400L), 1000L)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // a: available 200, needed 600 -> 3.0 epochs; b: available 50, needed 400 -> 8.0
    assert(r("a") == ((200L, 600L, 3000L)) && r("b") == ((50L, 400L, 8000L)), r.toString)
    intercept[IllegalArgumentException] {
      Sampling.mixtureEpochs(df, "src", "n", Map("a" -> 500L), 10L)
    }
  }

  test("Decontaminate.leakReport: leaked fraction per bench doc, zero for clean/short docs") {
    val leakedPassage = "SECRETLEAKEDPASSAGEXYZABCDEF" // 28 chars -> 9 grams at k=20
    val cleanText = "this benchmark text is clean and long enough to have grams"
    val corpus = docsDf(Seq((10L, "A" * 10 + leakedPassage + "B" * 10)))
    val bench = docsDf(Seq((0L, leakedPassage), (1L, cleanText), (2L, "short")))
    val rep = Decontaminate.leakReport(corpus, "text", bench, "doc_id", "text", k = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep.keySet == Set(0L, 1L, 2L))
    assert(rep(0L) == ((9L, 9L, 1000L)), s"fully leaked doc: ${rep(0L)}")
    assert(rep(1L) == (((cleanText.length - 19).toLong, 0L, 0L)), s"clean doc: ${rep(1L)}")
    assert(rep(2L) == ((0L, 0L, 0L)), s"short doc: ${rep(2L)}")
  }

  test("ConnectedComponents.incrementalRun equals full recompute on random graphs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 30L
      val cut = 18L // nodes >= cut are "the new batch"
      val all = (1L to n)
      val edges = Seq.fill(25)((all(rnd.nextInt(all.size)), all(rnd.nextInt(all.size))))
        .filter(e => e._1 != e._2)
      val edgesDf = edges.toDF("a", "b")
      val nodesDf = all.toDF("id")
      val full = ConnectedComponents.run(nodesDf, "id", edgesDf, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // incremental: label the old subgraph, then add only edges touching new
      val oldNodes = all.filter(_ < cut).toDF("id")
      val oldEdges = edges.filter(e => e._1 < cut && e._2 < cut).toDF("a", "b")
      val oldLabels = ConnectedComponents.run(oldNodes, "id", oldEdges, "a", "b")
      val newEdges = edges.filter(e => e._1 >= cut || e._2 >= cut).toDF("a", "b")
      val incr = ConnectedComponents.incrementalRun(oldLabels, nodesDf, "id",
          newEdges, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(incr == full, s"trial $trial: incremental relabel diverged from full recompute")
    }
  }

  test("ConnectedComponents.sizeHistogram: sizes count clusters and sum to node count") {
    val s = spark
    import s.implicits._
    val nodes = (1L to 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val labels = ConnectedComponents.run(nodes, "id", edges, "a", "b")
    val h = ConnectedComponents.sizeHistogram(labels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h == Map(3L -> 1L, 2L -> 1L, 1L -> 5L), h.toString)
  }
}
