package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.BucketedTable

/** Specs for the round-9 additions: chunk-level dedup, per-source dedup rate,
  * temperature mixture shares, SRP projection, mutual-kNN clusters, and the
  * bucketed sink/source layout. */
class Round9OpsSpec extends AnyFunSuite with LocalSpark {

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- chunkDedup ---------------------------------------------------------

  test("chunkDedup removes chunks shared by >= minDocs docs, keeps order") {
    // 3-word chunks; "aa bb cc" is shared by docs 1 and 2 as an aligned chunk
    // (words are lowercased [a-z]+ runs — digits would merge "xa1"/"xa2")
    val df = docsDf(Seq(
      (1L, "aa bb cc xa ya za"),
      (2L, "aa bb cc xb yb zb"),
      (3L, "p q r"),
      (4L, ""),
      (5L, "one two")))
    val out = Dedup.chunkDedup(df, "doc_id", "text", chunkWords = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("xa ya za", 2L, 1L)))
    assert(out(2L) == (("xb yb zb", 2L, 1L)))
    assert(out(3L) == (("p q r", 1L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))          // wordless doc passes through empty
    assert(out(5L) == (("one two", 1L, 0L)))   // short tail chunk is its own chunk
  }

  test("chunkDedup counts DISTINCT docs: within-doc repeats are not dups") {
    val df = docsDf(Seq(
      (1L, "aa bb cc aa bb cc"), // same chunk twice in ONE doc -> not duplicated
      (2L, "zz yy xx")))
    val out = Dedup.chunkDedup(df, "doc_id", "text", chunkWords = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "aa bb cc aa bb cc")
  }

  test("chunkDedup fully-duplicated doc cleans to empty string") {
    val df = docsDf(Seq((1L, "aa bb cc"), (2L, "aa bb cc")))
    val out = Dedup.chunkDedup(df, "doc_id", "text", chunkWords = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(out(1L) == (("", 1L)) && out(2L) == (("", 1L)))
  }

  test("chunkDedup keepFirst leaves the canonical copy (min doc, min index)") {
    val df = docsDf(Seq(
      (7L, "aa bb cc aa bb cc"), // dup chunk appears twice in the min doc
      (8L, "aa bb cc zz yy xx"),
      (9L, "aa bb cc")))
    val out = Dedup.chunkDedup(df, "doc_id", "text", chunkWords = 3, minDocs = 2,
        keepFirst = true)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    // doc 7 keeps only its FIRST copy; doc 8 and 9 lose theirs
    assert(out(7L) == (("aa bb cc", 1L)))
    assert(out(8L) == (("zz yy xx", 1L)))
    assert(out(9L) == (("", 1L)))
    // CCNet mode removes all three copies including the canonical one
    val all = Dedup.chunkDedup(df, "doc_id", "text", 3, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all(7L) == "" && all(9L) == "")
  }

  // ---- sourceKlDivergence / dsirWeights -----------------------------------

  test("sourceKlDivergence is 0 for identical distributions, > 0 for drift") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(50)("aa bb").zipWithIndex.map { case (t, i) => (i.toLong, t, "same1") } ++
      Seq.fill(50)("aa bb").zipWithIndex.map { case (t, i) => (100L + i, t, "same2") } ++
      Seq.fill(50)("zz qq").zipWithIndex.map { case (t, i) => (200L + i, t, "drift") })
      .toDF("doc_id", "text", "source")
    val out = CorpusStats.sourceKlDivergence(df, "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("same1")._1 == 100L)
    // same1/same2 each hold half the aa/bb mass: ratio p_s/p = 1 within the
    // shared words -> KL ≈ ln(150/100) from the mixture weight... compute:
    // p_s(aa)=.5, p(aa)=100/300 -> ln(1.5) ≈ 0.405 for both shared sources
    assert(math.abs(out("same1")._2 - out("same2")._2) < 1e-9)
    assert(out("drift")._2 > out("same1")._2) // disjoint vocab: ln(3) ≈ 1.099
    assert(math.abs(out("drift")._2 - math.log(3.0)) < 0.01)
  }

  test("mixtureEntropy: a zero-weight source adds 0; a zero total gives 0") {
    val s = spark
    import s.implicits._
    def entropy(ws: Seq[(String, Long)]) = {
      val r = CorpusStats.mixtureEntropy(ws.toDF("source", "w"), "source", "w").collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // the term of a positive source: floor(ln(T/w)·1e6·w/T)
    def term(w: Long, t: Long) = math.floor(math.log(t.toDouble / w) * 1000000.0 * w / t).toLong
    assert(entropy(Seq(("a", 5L), ("b", 3L), ("c", 0L))) ==
      ((3L, 8L, term(5L, 8L) + term(3L, 8L), 625L)))
    // a zero-weight source changes nothing but n_sources
    val (_, t2, e2, m2) = entropy(Seq(("a", 5L), ("b", 3L)))
    assert((t2, e2, m2) == ((8L, term(5L, 8L) + term(3L, 8L), 625L)))
    assert(entropy(Seq(("a", 0L), ("b", 0L))) == ((2L, 0L, 0L, 0L)))
  }

  test("dsirWeights scores target-like docs positive, off-target negative") {
    val s = spark
    import s.implicits._
    val df = (
      (1L to 20L).map(i => (i, "ml model training data", "target")) ++
      (21L to 40L).map(i => (i, "celebrity gossip news", "web")) ++
      Seq((50L, "ml model gossip", "web"))).toDF("doc_id", "text", "source")
    val out = CorpusStats.dsirWeights(df, "doc_id", "text", "source = 'target'")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(21L)._2 < 0)           // pure off-target doc
    assert(out(1L)._2 > 0)            // pure target doc (diagnostic score)
    assert(out(50L)._1 == 3L)         // mixed doc scored over its 3 tokens
    assert(out(50L)._2 > out(21L)._2 && out(50L)._2 < out(1L)._2)
    // bigram features: same sign structure, 1-word docs drop out
    val bg = CorpusStats.dsirWeights(
        df.union(Seq((60L, "solo", "web")).toDF("doc_id", "text", "source")),
        "doc_id", "text", "source = 'target'", ngram = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(bg(1L)._1 == 3L)           // 4 words -> 3 bigrams
    assert(bg(1L)._2 > 0 && bg(21L)._2 < 0)
    assert(!bg.contains(60L))         // 1-word doc: no bigram features
  }

  test("gopherFlags evaluates the three rules and their conjunction") {
    val df = docsDf(Seq(
      (1L, "the cat sat on a mat with the dog and it was good here now ok"), // passes all
      (2L, "short text"),                              // fails word count
      (3L, "a b c d e f g h i j k l m"),               // 1-char words: mean < 2.0
      (4L, "")))                                       // empty: all fail
    val out = CorpusStats.gopherFlags(df, "doc_id", "text", minWords = 10,
        maxWords = 100, minWlMilli = 2000L, maxWlMilli = 10000L, minStop = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7)))).toMap
    assert(out(1L)._4 == 1L)
    assert(out(2L) == ((2L, 4500L, 0L, 0L)))
    assert(out(3L)._1 == 13L && out(3L)._2 < 2000L && out(3L)._4 == 0L)
    assert(out(4L) == ((0L, 0L, 0L, 0L)))
  }

  test("frameSample gate shape: contiguous byte slices covering the payload") {
    val df = docsDf(Seq((1L, "abcdefgh"), (2L, "xy"), (3L, "")))
    val out = Multimodal.withBinaryPayload(df, "text", "payload")
      .select(col("doc_id"),
        posexplode(Multimodal.frameSample(col("payload"), 4)).as(Seq("fi", "frame")))
      .select(col("doc_id"), col("fi"), col("frame").cast("string").as("s"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(out((1L, 0)) == "ab" && out((1L, 1)) == "cd" &&
      out((1L, 2)) == "ef" && out((1L, 3)) == "gh")
    assert(out((2L, 0)) == "x" && out((2L, 1)) == "y") // len < n: 1-byte frames
    assert(!out.keySet.exists(_._1 == 3L))             // empty payload: no rows
  }

  // ---- dedupRateBySource --------------------------------------------------

  test("dedupRateBySource counts exact dups per source, null text excluded") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "same", "a"), (2L, "same", "a"), (3L, "other", "a"),
      (4L, null.asInstanceOf[String], "b"), (5L, "x", "b"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dedupRateBySource(df, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("a") == ((3L, 3L, 1L, 333L)))
    assert(out("b") == ((2L, 1L, 0L, 0L)))
  }

  // ---- temperatureShares --------------------------------------------------

  test("temperatureShares tau=0.5 upweights small sources, integer-exact") {
    val s = spark
    import s.implicits._
    // 100 docs of 'big', 4 of 'small': raw shares 96%/4%; sqrt shares 10/2
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 104).map(i => (i.toLong, "small"))).toDF("id", "source")
    val out = Sampling.temperatureShares(df, "source", 1200L, 500)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("big") == ((100L, 10L, 833333L, 1000L)))
    assert(out("small") == ((4L, 2L, 166666L, 200L)))
    // tau=1.0 degenerates to proportional
    val prop = Sampling.temperatureShares(df, "source", 1200L, 1000)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(prop("big") == 1153L && prop("small") == 46L)
    intercept[IllegalArgumentException] {
      Sampling.temperatureShares(df, "source", 1200L, 700)
    }
  }

  // ---- projectSrp ---------------------------------------------------------

  test("projectSrp is integer-exact, sign-deterministic, null-safe") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq.empty[Float]),
      (3L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    val rows = Embeddings.projectSrp(df, "vec_id", "embedding", 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(rows(2L) == null && rows(3L) == null)
    val p = rows(1L)
    assert(p.length == 4)
    // exact recomputation: q = (1000000, -500000, 250000)
    val q = Seq(1000000L, -500000L, 250000L)
    val expect = (0 until 4).map { j =>
      (0 until 3).map { i =>
        val sign = if (((j.toLong * 8191 + i) * 2654435761L) % 1000003 % 2 == 0) 1L else -1L
        sign * q(i)
      }.sum
    }
    assert(p == expect)
  }

  // ---- mutualKnnClusters --------------------------------------------------

  test("mutualKnnClusters groups mutual neighbors, singletons label themselves") {
    val s = spark
    import s.implicits._
    // two tight pairs far apart + one outlier; k=1 makes mutuality strict
    val df = Seq(
      (1L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),
      (10L, Seq(0.0f, 0.0f, 1.0f, 0.01f)),
      (11L, Seq(0.0f, 0.0f, 1.0f, 0.02f)),
      (99L, Seq(-1.0f, 1.0f, -1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Dedup.mutualKnnClusters(df, "vec_id", "embedding", 1, nPlanes = 2, nTables = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 5)
    assert(out(1L) == out(2L))
    assert(out(10L) == out(11L))
    assert(out(1L) != out(10L))
    assert(out(99L) == 99L)
  }

  test("curate pipeline: filters, dedups, respects sqrt-temperature quotas") {
    val s = spark
    import s.implicits._
    val good = "the quick brown fox jumps over a lazy dog in the sun it is fine"
    // 20 'big' docs (2 of them exact dups), 4 'small' docs, 1 garbage doc
    val df = ((1L to 20L).map(i => (i, if (i <= 2) good else good + s" extra$i", "big")) ++
      (50L to 53L).map(i => (i, good + s" tail$i", "small")) ++
      Seq((99L, "123 456 789 @@@ ###", "junk"))).toDF("doc_id", "text", "source")
    val out = CuratePipeline.curate(df, "doc_id", "text", "source", 0.5, 12L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = out.groupBy(_._2).view.mapValues(_.length).toMap
    // big: 19 distinct after dedup -> w=4; small: 4 -> w=2; junk filtered
    // (quality 0): tw=6, quotas = 4*12/6=8 and 2*12/6=4
    assert(bySource == Map("big" -> 8, "small" -> 4))
    assert(!out.exists(_._2 == "junk"))
    // the duplicated text survives exactly once IF selected, never twice
    assert(out.count(t => t._1 == 1L || t._1 == 2L) <= 1)
    // ranks are 1..quota within each source
    assert(out.filter(_._2 == "big").map(_._3).sorted.toSeq == (1L to 8L))
  }

  // ---- BucketedTable ------------------------------------------------------

  test("cobucketedJoin matches the plain join and reads back bucketed") {
    val s = spark
    import s.implicits._
    val left = (1L to 50L).map(k => (k, s"n$k")).toDF("k", "name")
    val right = (1L to 200L).map(i => (i % 60 + 1, i)).toDF("k", "v")
    val got = BucketedTable.cobucketedJoin(left, right, "k", 4, "r9spec")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = left.join(right, "k").groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want && got.nonEmpty)
    // layout is recorded: the catalog table carries the bucket spec
    val cat = spark.sql("DESCRIBE TABLE EXTENDED r9spec_l").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(cat.get("Num Buckets").map(_.trim).contains("4"))
  }

  test("co-bucketed join + same-key agg plans ZERO shuffle exchanges") {
    val s = spark
    import s.implicits._
    val left = (1L to 50L).map(k => (k, s"n$k")).toDF("k", "name")
    val right = (1L to 200L).map(i => (i % 60 + 1, i)).toDF("k", "v")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
             "spark.sql.adaptive.enabled" -> "false") {
      val joined = BucketedTable.cobucketedJoin(left, right, "k", 4, "r9plan")
        .groupBy("k").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free plan, got:\n$plan")
    }
  }

  // ---- softWeights --------------------------------------------------------

  test("softWeights assigns 1/group_size and keeps every row") {
    val df = docsDf(Seq(
      (1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "unique"), (5L, null)))
    val out = Dedup.softWeights(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 5)
    assert(out(1L) == ((3L, 0.333333)) && out(2L) == ((3L, 0.333333)))
    assert(out(4L) == ((1L, 1.0)))
    assert(out(5L) == ((1L, 1.0))) // null text is its own (null-hash) group
    // duplicated groups share one unit of mass up to rounding
    assert(math.abs(Seq(1L, 2L, 3L).map(out(_)._2).sum - 1.0) < 1e-4)
  }

  // ---- noveltyScores ------------------------------------------------------

  test("noveltyScores credits shingles to their smallest-id doc") {
    val df = docsDf(Seq(
      (1L, "aa bb cc dd"),      // shingles: "aa bb cc", "bb cc dd" — all first
      (2L, "aa bb cc dd"),      // exact dup of 1 -> nothing novel
      (3L, "aa bb cc zz"),      // "aa bb cc" seen, "bb cc zz" new -> 1/2
      (4L, "x y"),              // < 3 words -> absent
      (5L, null)))              // null -> absent
    val out = Dedup.noveltyScores(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((2L, 1L, 0.5)))
  }

  test("boilerplateScores counts distinct-doc-frequent shingles") {
    val df = docsDf(Seq(
      (1L, "aa bb cc dd"),      // "aa bb cc" shared with 2 and 3; "bb cc dd" with 2
      (2L, "aa bb cc dd"),
      (3L, "aa bb cc qq rr ss tt"), // 5 shingles, only "aa bb cc" common -> 1/5
      (4L, "solo text here")))  // nothing shared -> 0
    val out = Dedup.boilerplateScores(df, "doc_id", "text", minDocs = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 2L, 1.0)))
    assert(out(3L) == ((5L, 1L, 0.2)))
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  // ---- Fusion.rrf ---------------------------------------------------------

  test("rrf fuses ranks, handles one-list-only candidates, breaks ties by id") {
    val s = spark
    import s.implicits._
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("q", "d", "rank")
    val dense = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q", "d", "rank")
    val out = Fusion.rrf(lex, dense, "q", "d", "rank", 10, kRrf = 60)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // 11: 1/62 + 1/61 ~ .032522; 10: 1/61 ~ .016393; 12: 1/62 ~ .016129
    assert(out.map(t => t._2) sameElements Array(11L, 10L, 12L))
    assert(out(0)._3 == 0.032522 && out(1)._3 == 0.016393 && out(2)._3 == 0.016129)
    // exact tie (same single-list rank) breaks by smaller id
    val a2 = Seq((1L, 20L, 1L)).toDF("q", "d", "rank")
    val b2 = Seq((1L, 19L, 1L)).toDF("q", "d", "rank")
    val tied = Fusion.rrf(a2, b2, "q", "d", "rank", 2).orderBy(col("rank"))
      .collect().map(_.getLong(1)).toSeq
    assert(tied == Seq(19L, 20L))
  }

  // ---- exactIncrementBloom ------------------------------------------------

  test("exactIncrementBloom equals exactIncrement even at a high FP rate") {
    val seenDocs = docsDf(Seq((1L, "kept before"), (2L, "also kept")))
    val batch = docsDf(Seq(
      (10L, "kept before"),   // seen -> 0
      (11L, "brand new"),     // fresh canonical -> 1
      (12L, "brand new"),     // batch dup of 11 -> 0
      (13L, "also kept"),     // seen -> 0
      (14L, "another fresh"), // fresh -> 1
      (15L, null)))           // null text -> excluded
    val seen = Dedup.exactDigests(seenDocs, "text")
    val exact = Dedup.exactIncrement(batch, "doc_id", "text", seen)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    for (fpp <- Seq(0.01, 0.5)) { // 0.5: floods the verify join with FPs
      val bloomed = Dedup.exactIncrementBloom(batch, "doc_id", "text", seen, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(bloomed == exact, s"fpp=$fpp")
    }
    assert(exact == Set((10L, 0L), (11L, 1L), (12L, 0L), (13L, 0L), (14L, 1L)))
  }

  // ---- corpusDiff ---------------------------------------------------------

  test("corpusDiff classifies added/removed/changed/unchanged, null-text aware") {
    val oldSnap = docsDf(Seq(
      (1L, "same"), (2L, "before"), (3L, "gone"), (5L, null)))
    val newSnap = docsDf(Seq(
      (1L, "same"), (2L, "after"), (4L, "fresh"), (5L, null), (6L, null)))
    val out = Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added",
      5L -> "unchanged", // null text on both sides: digests agree
      6L -> "added"))    // present only in new, even though its digest is null
  }

  // ---- rangeSearch --------------------------------------------------------

  test("rangeSearch returns exactly the pairs at or above the threshold") {
    val s = spark
    import s.implicits._
    // unit vectors in the plane at known angles: cos(0,1)=cos45, cos(0,2)=0,
    // cos(1,2)=cos45, cos(0,3)=-1
    val v = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.7071068f, 0.7071068f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f)))
    val df = v.toDF("id", "vec")
    val out = SimSearch.rangeSearch(df, "id", "vec", df, "id", "vec",
        0.5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)))
    // threshold below -1 -> every non-self pair
    val all = SimSearch.rangeSearch(df, "id", "vec", df, "id", "vec",
        -2.0, excludeSelf = true).count()
    assert(all == 12L)
  }

  // ---- topKMmr ------------------------------------------------------------

  test("topKMmr rank 1 is pure relevance; later ranks penalize redundancy") {
    val s = spark
    import s.implicits._
    // query 0 = x-axis; 1 and 2 are the SAME vector (sim 1.0), 3 is equally
    // relevant but deviates on a different axis (sim to 1 ~ 0.990) — plain
    // top-2 would tie-break to {1,2}; MMR must pick the diverse {1,3}
    val v = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.995f, 0.0995f, 0f)),
      (2L, Array(0.995f, 0.0995f, 0f)),
      (3L, Array(0.995f, 0f, 0.0995f)))
    val df = v.toDF("id", "vec")
    val out = SimSearch.topKMmr(df.filter(col("id") === 0L), "id", "vec",
        df, "id", "vec", k = 2, shortlist = 3, lambda = 0.5, excludeSelf = true)
      .collect().map(r => (r.getLong(3), r.getLong(1))).toMap // rank -> neighbor
    assert(out(1L) == 1L, "rank 1 must be the most relevant candidate (smallest id on ties)")
    assert(out(2L) == 3L, "rank 2 must prefer the diverse candidate over the exact copy")
  }

  test("topKMmr at lambda=1 degrades to plain topK order") {
    val s = spark
    import s.implicits._
    val v = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.3f)),
      (3L, Array(0.2f, 0.9f)), (4L, Array(-0.5f, 0.5f)))
    val df = v.toDF("id", "vec")
    val mmr = SimSearch.topKMmr(df.filter(col("id") === 0L), "id", "vec",
        df, "id", "vec", k = 3, shortlist = 4, lambda = 1.0, excludeSelf = true)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    val plain = SimSearch.topK(df.filter(col("id") === 0L), "id", "vec",
        df, "id", "vec", 3, excludeSelf = true)
      .orderBy(col("cosine").desc, col("neighbor_id")).collect().map(_.getLong(1)).toSeq
    assert(mmr == plain)
  }

  test("zipfSlope matches a brute-force model; Zipfian text slopes near -1") {
    // word k appears floor(100/k) times -> cf(rank k) ~ 100/k, slope ~ -1
    val zipfText = (1 to 20).flatMap(k => Seq.fill(100 / k)(s"w${('a' + k - 1).toChar}")).mkString(" ")
    val out = CorpusStats.zipfSlope(docsDf(Seq((1L, zipfText))), "doc_id", "text",
      maxRank = 20).collect().head
    val (n, slope) = (out.getLong(0), out.getDouble(1))
    assert(n == 20L)
    assert(slope < -0.8 && slope > -1.2, s"expected ~-1, got $slope")
    // brute-force model with the same milli-nat quantization
    val words = zipfText.split(' ').toSeq
    val cf = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ranked = cf.toSeq.sortBy { case (w, c) => (-c, w) }.take(20)
    val pts = ranked.zipWithIndex.map { case ((_, c), i) =>
      (math.floor(math.log((i + 1).toDouble) * 1000).toLong,
        math.floor(math.log(c.toDouble) * 1000).toLong)
    }
    val nn = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val want = BigDecimal((nn * sxy - sx * sy).toDouble / (nn * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(slope == want)
    // a uniform corpus (flat spectrum) slopes near 0
    val flatText = (1 to 20).flatMap(k => Seq.fill(5)(s"u${('a' + k - 1).toChar}")).mkString(" ")
    val flat = CorpusStats.zipfSlope(docsDf(Seq((1L, flatText))), "doc_id", "text",
      maxRank = 20).collect().head.getDouble(1)
    assert(math.abs(flat) < 0.05, s"flat spectrum must slope ~0, got $flat")
  }

  test("profile reports exact per-column stats, null-aware") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some("aa"), Some(10)),
      (2L, None, Some(20)),
      (3L, Some("bb"), None),
      (4L, Some("aa"), Some(20))).toDF("id", "t", "n")
    val out = TableProfile.profile(df, Seq("id", "t", "n"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out("id") == ((4L, 0L, 4L, "1", "4")))
    assert(out("t") == ((4L, 1L, 2L, "aa", "bb")))
    assert(out("n") == ((4L, 1L, 2L, "10", "20")))
    intercept[IllegalArgumentException] {
      TableProfile.profile(df, Seq("nope"))
    }
  }

  test("pageRank matches a brute-force integer model; hubs outrank leaves") {
    val s = spark
    import s.implicits._
    // star: 1..4 all point at 5; 5 points back at 1 only
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 1L))
    val got = GraphRank.pageRank(edges.toDF("src", "dst"), "src", "dst",
        nIters = 3, dampingMilli = 850)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force model with the same integer ops
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => rank(u) / outDeg(u) }.sum).toMap
      rank = nodes.map(n => n -> (150000L + 850L * contrib.getOrElse(n, 0L) / 1000L)).toMap
    }
    assert(got == rank)
    assert(got(5L) == got.values.max, "the star hub must rank highest")
    assert(got(2L) == got(3L) && got(3L) == got(4L), "symmetric leaves tie")
  }

  test("userEventSequences orders by (ts, tie) and drops null types") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, 100L, "u1", Some("a")),
      (3L, 100L, "u1", Some("b")), // same ts: event_id 1 before 3
      (2L, 50L, "u1", Some("c")),  // earliest
      (4L, 75L, "u1", None),       // null type dropped
      (5L, 10L, "u2", Some("z"))).toDF("event_id", "ts", "user_id", "event_type")
      .repartition(4) // deterministic REGARDLESS of layout
    val out = Sequences.userEventSequences(df, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out("u1") == ((3L, "c>a>b")))
    assert(out("u2") == ((1L, "z")))
  }

  test("personalizedPageRank concentrates rank near the seeds") {
    val s = spark
    import s.implicits._
    // two symmetric triangles bridged by one edge; seed in triangle A
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // triangle A
      (4L, 5L), (5L, 6L), (6L, 4L), // triangle B
      (3L, 4L))                     // bridge
    val got = GraphRank.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        Seq(Tuple1(1L)).toDF("id"), "id", nIters = 3, dampingMilli = 850)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // model with the same integer ops
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = nodes.map(n => n -> (if (n == 1L) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => rank(u) / outDeg(u) }.sum).toMap
      rank = nodes.map(n => n ->
        ((if (n == 1L) 150000L else 0L) + 850L * contrib.getOrElse(n, 0L) / 1000L)).toMap
    }
    assert(got == rank)
    // seed triangle members outrank the far triangle reached only via bridge
    assert(got(2L) > got(5L) && got(1L) > got(6L))
    // unreachable-from-seed mass: node 5 gets only propagated crumbs, no teleport
    assert(got(5L) < 150000L)
  }

  test("rendezvousShard: stability — growing n moves rows ONLY into the new shard") {
    val s = spark
    import s.implicits._
    val ids = (1L to 500L).toDF("doc_id")
    def assign(n: Int) = Packing.rendezvousShard(ids, "doc_id", n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at5 = assign(5)
    val at6 = assign(6)
    assert(at5.values.forall(v => v >= 0 && v < 5))
    assert(at6.values.forall(v => v >= 0 && v < 6))
    val moved = at5.keys.filter(id => at5(id) != at6(id))
    assert(moved.nonEmpty, "some rows must move to the new shard")
    moved.foreach(id => assert(at6(id) == 5L,
      s"row $id moved $at5($id)->${at6(id)} — rendezvous may only move INTO the new shard"))
    // roughly balanced: every shard is populated
    assert(at6.values.toSet.size == 6)
  }

  test("collocations matches a brute-force micro-nat PMI model") {
    val texts = Seq(
      (1L, "new york is big and new york is loud"),
      (2L, "york new has no glue but new york does"),
      (3L, "big and loud and big and loud"))
    val out = CorpusStats.collocations(docsDf(texts), "text", minCount = 2L, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
    // brute-force model
    val docsWords = texts.map(_._2.split(' ').toSeq)
    val uni = docsWords.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n1 = uni.values.sum
    val bi = docsWords.flatMap(ws => ws.zip(ws.tail)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val n2 = bi.values.sum
    def q(c: Long, n: Long): Long = math.floor(-math.log(c.toDouble / n.toDouble) * 1e6).toLong
    val want = bi.filter(_._2 >= 2L).map { case ((x, y), c) =>
      ((x, y), (c, q(uni(x), n1) + q(uni(y), n1) - q(c, n2)))
    }
    val gotMap = out.toMap
    assert(gotMap == want)
    // "new york" (3 hits, strongly associated) must be present and ranked
    val order = out.map(_._1).toSeq
    assert(order.indexOf(("new", "york")) >= 0)
    assert(gotMap(("new", "york"))._1 == 3L)
  }

  test("zorderKey matches a brute-force Morton model on an exhaustive grid") {
    val s = spark
    import s.implicits._
    // 4×4 grid in 2 dims: min-max quantization at bits=2 maps coordinate
    // k/3.0 exactly to cell k, so zkey must equal the hand-interleaved code
    val pts = for { x <- 0 to 3; y <- 0 to 3 } yield
      ((x * 4 + y).toLong, Seq(x / 3.0f * 3.0f, y / 3.0f * 3.0f))
    val df = pts.toDF("vec_id", "embedding")
    val got = Embeddings.zorderKey(df, "vec_id", "embedding", dims = 2, bits = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def morton(qx: Long, qy: Long): Long =
      (0 until 2).map(b => (((qx >> b) & 1L) << (b * 2)) | (((qy >> b) & 1L) << (b * 2 + 1))).sum
    pts.foreach { case (id, v) =>
      val (qx, qy) = (math.round(v.head / 1.0), math.round(v(1) / 1.0))
      assert(got(id) == morton(qx, qy), s"id=$id v=$v")
    }
    assert(got.values.toSet.size == 16, "exhaustive grid must fill all 16 codes")
  }

  test("zorderKey excludes short/null vectors and keeps keys in range") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(0.1f, 0.2f, 0.3f, 0.4f, 0.9f)),
      (2L, Seq(0.5f, 0.6f, 0.7f, 0.8f)),
      (3L, Seq(0.1f, 0.2f)), // shorter than dims=4 -> excluded
      (4L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    val out = Embeddings.zorderKey(df, "vec_id", "embedding", dims = 4, bits = 8).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L))
    out.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32)))
  }

  // ---- custom planner operator --------------------------------------------

  test("SimKernelPlan plans through SimKernelExec and equals strategy direct") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "spark kernel"), (2L, "spark kennel"), (3L, "plan node"),
      (4L, "spark kernels")).toDF("id", "name")
    val opts = graft.operators.SimJoinOptions(topN = 2, normalization = "l2")
    val viaPlan = graft.plans.SimKernelPlan.keyedPairs(
      df, "id", "name", df, "id", "name", opts)
    // the strategy must actually plan our node into the custom physical op
    val execs = viaPlan.queryExecution.executedPlan.collect {
      case e: graft.plans.SimKernelExec => e
    }
    assert(execs.nonEmpty,
      s"plan was:\n${viaPlan.queryExecution.executedPlan.treeString.take(3000)}")
    val got = viaPlan.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.operators.SimJoin.keyedPairs(
      df, "id", "name", df, "id", "name", opts.copy(strategy = "direct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  // ---- skip-gram co-occurrence --------------------------------------------

  test("cooccurrence counts all pairs within the window, in order") {
    val docs = docsDf(Seq((1L, "a b c d")))
    val got = CorpusStats.cooccurrence(docs, "text", window = 2, minCount = 1L, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // pairs at distance 1: ab bc cd; distance 2: ac bd
    assert(got.keySet == Set(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("b", "d")))
    assert(got.values.forall(_ == 1L))
    // window=1 must reduce exactly to the adjacent collocation pairs
    val adj = CorpusStats.cooccurrence(docs, "text", window = 1, minCount = 1L, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val coll = CorpusStats.collocations(docs, "text", minCount = 1L, topK = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(adj == coll)
  }

  // ---- CUSUM + MAD outliers -----------------------------------------------

  test("cusumDaily accumulates a sustained shift the sigma rule would miss") {
    // type A: 5 days at 10, then 5 days at 14 — no single day is anomalous,
    // but the +4/day shift accumulates. mean=12, nh=10, tot=120.
    val rows = (
      (0 until 5).flatMap(d => (1 to 10).map(i => (f"2024-01-${d + 1}%02d 00:00:00", i))) ++
      (5 until 10).flatMap(d => (1 to 14).map(i => (f"2024-01-${d + 1}%02d 00:00:00", i)))
    ).zipWithIndex.map { case ((h, _), i) => (i.toLong, h, 1L, "A") }
    val ev = eventsDf(rows)
    val got = EventStats.cusumDaily(ev, "event_type", slack = 1L, threshold = 3L)
      .collect().map(r => r.getString(1) -> (r.getLong(3), r.getBoolean(4))).toMap
    // model: s = max(0, s + c*10 - 120 - 1*10); flag s > 3*10... in
    // multiplied units: early days c=10 -> delta = -30 -> s stays 0;
    // late days c=14 -> delta = +10 per day -> s = 10,20,30,40,50
    (1 to 5).foreach(d => assert(got(f"2024-01-$d%02d") == (0L, false)))
    assert(got("2024-01-06") == (10L, false))
    assert(got("2024-01-08") == (30L, false)) // at threshold, not over
    assert(got("2024-01-09") == (40L, true))
    assert(got("2024-01-10") == (50L, true))
  }

  test("madOutliers flags by robust deviation; median unmoved by the outlier") {
    val s = spark
    import s.implicits._
    // lens 100..108 (median 104, MAD 2) plus one 1000: dev 896 > 3*2
    val df = ((0 to 8).map(i => (i.toLong, 100L + i)) :+ (9L, 1000L))
      .toDF("doc_id", "len")
    val got = CorpusStats.madOutliers(df, "doc_id", "len", k = 3L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // n=10 -> median = rank 5 element of (100..108,1000) = 104; devs of the
    // in-range docs: 4,3,2,1,0,1,2,3,4 and 896 -> MAD = rank-5 dev = 2
    assert(got(9L) == (896L, true))
    assert(got(4L) == (0L, false))
    assert(got(0L) == (4L, false))   // 4 <= 3*2
    assert(got.count(_._2._2) == 1)
  }

  // ---- positional search --------------------------------------------------

  test("phraseHits finds exact consecutive matches, incl. repeated-term phrases") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the cat mat"),
      (2L, "cat the cat"),   // "the cat" once at pos 1; reversed pair not a hit
      (3L, "buffalo buffalo buffalo")).toDF("doc_id", "text")
    val pidx = Bm25.positionalIndex(docs, "doc_id", "text")
    val phrases = Seq(
      ("the cat", "the", 0L), ("the cat", "cat", 1L),
      ("buffalo buffalo", "buffalo", 0L), ("buffalo buffalo", "buffalo", 1L))
      .toDF("phrase_id", "term", "offset")
    val got = Bm25.phraseHits(pidx, phrases)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("the cat", 1L) -> 2L, ("the cat", 2L) -> 1L,
      ("buffalo buffalo", 3L) -> 2L)) // overlapping starts 0 and 1 both count
  }

  test("booleanAnd keeps only docs containing every query term") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "beta gamma alpha x"),
      (4L, "alpha alpha alpha")).toDF("doc_id", "text")
    val idx = Bm25.index(docs, "doc_id", "text")
    val q = Seq((100L, "alpha"), (100L, "gamma"), (200L, "beta")).toDF("query_id", "term")
    val got = Bm25.booleanAnd(idx, q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 1L), (100L, 3L), (200L, 1L), (200L, 2L), (200L, 3L)))
  }

  // ---- rolling window -----------------------------------------------------

  test("trailingDailySum matches a hand model incl. gap days") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("2024-01-01 00:00:00", 10.00), ("2024-01-01 12:00:00", 5.50),
      ("2024-01-02 01:00:00", 2.25),
      ("2024-01-05 09:00:00", 100.00) // 3-day gap inside the window
    ).toDF("tss", "price").withColumn("ts", to_timestamp(col("tss")))
    val got = Rolling.trailingDailySum(df, "ts", "price", 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "2024-01-01" -> (2L, 1550L),
      "2024-01-02" -> (3L, 1775L),        // includes both day-1 orders
      "2024-01-05" -> (1L, 10000L)))      // days 3-4 empty, day 2 outside
  }

  // ---- JSONL round trip ---------------------------------------------------

  test("JsonlTable round-trips quotes, unicode, newline-free text exactly") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, """he said "hi" \ backslash"""),
      (2L, "unicode: café 中文 ☃"),
      (3L, "tabs\tandcontrol")).toDF("doc_id", "text")
    val base = s"${sys.props("java.io.tmpdir")}/graft_jsonl_spec"
    graft.sources.JsonlTable.write(df, base)
    val back = graft.sources.JsonlTable.read(s, base, df.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want)
  }

  // ---- bot flags + quantile buckets ---------------------------------------

  test("botFlags: metronome user flagged, bursty user not, short history excluded") {
    val base = "2024-01-01 00:%02d:%02d"
    // u1: 6 events exactly 60 s apart (CV = 0) -> bot
    val u1 = (0 until 6).map(i => (i.toLong, base.format(i, 0), 1L, "click"))
    // u2: gaps 1,1,1,240 s -> CV >> 1/4 -> not a bot
    val u2 = Seq(0, 1, 2, 3, 7).zipWithIndex.map { case (m, i) =>
      (10L + i, base.format(m, if (m == 7) 0 else i % 60), 2L, "view") }
    // u3: only 3 events -> below minEvents, excluded
    val u3 = (0 until 3).map(i => (20L + i, base.format(i, 30), 3L, "view"))
    val ev = eventsDf(u1 ++ u2 ++ u3)
    val got = EventStats.botFlags(ev, "user_id", "event_id", minEvents = 5, cvDenom = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == (5L, true))
    assert(got(2L)._2 == false)
    assert(!got.contains(3L))
  }

  test("quantileBuckets assigns near-equal deciles over the unique order") {
    val s = spark
    import s.implicits._
    val df = (1L to 25L).map(i => (i, (i % 7).toDouble)).toDF("doc_id", "score")
    val got = CorpusStats.quantileBuckets(df, "doc_id", "score", buckets = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // model: rank in (score desc, id asc) order, bucket = rank*5 div 25
    val order = (1L to 25L).map(i => (i, (i % 7).toDouble))
      .sortBy { case (id, sc) => (-sc, id) }
    val want = order.zipWithIndex.map { case ((id, _), rk) => id -> (rk * 5L / 25L) }.toMap
    assert(got == want)
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.values.toSet == Set(5)) // 25 rows / 5 buckets exactly
  }

  // ---- derived stopword ratio ---------------------------------------------

  test("derivedStopwordRatio scores docs against the sketch-derived list") {
    val docs = docsDf(Seq(
      (1L, "the the the cat"),  // 3 of 4 in top-2 {the, and}? see below
      (2L, "and and dog fox"),
      (3L, "qqq zzz www yyy")))
    // corpus counts: the=3, and=2, rest=1 -> top-2 (width wide, no
    // collisions at this size) = {and, the} after the (count desc, word) sort
    val out = CorpusStats.derivedStopwordRatio(docs, "doc_id", "text",
      width = 1024, depth = 4, topK = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (4L, 3L, 750000L))
    assert(out(2L) == (4L, 2L, 500000L))
    assert(out(3L) == (4L, 0L, 0L))
  }

  // ---- event transitions + anomalies --------------------------------------

  test("transitions pairs successors per user in (ts, id) order") {
    val ev = eventsDf(Seq(
      (1L, "2024-01-01 00:00:01", 1L, "view"),
      (2L, "2024-01-01 00:00:02", 1L, "click"),
      (3L, "2024-01-01 00:00:03", 1L, "view"),
      (4L, "2024-01-01 00:00:02", 2L, "view"),   // u2 out-of-id-order rows
      (5L, "2024-01-01 00:00:01", 2L, "click"),  //   click@1 precedes view@2
      (6L, "2024-01-01 00:00:09", 3L, "signup")  // no successor
    ))
    val got = EventStats.transitions(ev, "user_id", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("view", "click") -> 1L, ("click", "view") -> 2L))
  }

  test("hourlyAnomalies flags exactly the >k-sigma cells, integer-exactly") {
    // type A: 9 hours of 10 + one hour of 100 -> mean 19, var 729, sigma 27;
    // dev 81 > 2*27 flags only the burst hour (note a lone outlier among few
    // hours can never exceed 2 sigma: max standardized dev is (n-1)/sqrt(n))
    val rows = (
      (0 to 8).flatMap(h => (1 to 10).map(i => (f"2024-01-01 $h%02d:00:00", "A", i))) ++
      (1 to 100).map(i => ("2024-01-01 09:00:00", "A", i)) ++
      (1 to 5).map(i => ("2024-01-01 00:00:00", "B", i)) ++
      (1 to 5).map(i => ("2024-01-01 01:00:00", "B", i))
    ).zipWithIndex.map { case ((h, t, _), i) => (i.toLong, h, 100L + i, t) }
    val ev = eventsDf(rows)
    val got = EventStats.hourlyAnomalies(ev, "event_type", sigmaK = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(("2024-01-01 09:00:00", "A")) == (100L, true))
    (0 to 8).foreach { h =>
      assert(got((f"2024-01-01 $h%02d:00:00", "A")) == (10L, false))
    }
    Seq("00", "01").foreach { h =>
      assert(got((s"2024-01-01 $h:00:00", "B")) == (5L, false))
    }
  }

  // ---- graph: triangles + HITS --------------------------------------------

  test("triangleCounts finds exactly the closed wedges, once per corner") {
    val s = spark
    import s.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5 and a
    // directed duplicate + self-loop that must not distort counts
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (3L, 3L)).toDF("src", "dst")
    val got = GraphRank.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)) // 5 in none
  }

  test("clusteringCoefficient: closed K3 corner = 1.0, chain middle = 0") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} with a pendant chain 3-4-5
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphRank.clusteringCoefficient(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (2L, 1L, 1000000L)) // both neighbors connected
    assert(got(2L) == (2L, 1L, 1000000L))
    assert(got(3L) == (3L, 1L, 333333L))  // 2*1*1e6 div (3*2)
    assert(got(4L) == (2L, 0L, 0L))       // open wedge
    assert(got(5L) == (1L, 0L, 0L))       // degree 1: defined as 0
  }

  test("hits matches a hand-iterated unnormalized model") {
    val s = spark
    import s.implicits._
    val edgeList = Seq((1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L))
    val got = GraphRank.hits(edgeList.toDF("src", "dst"), "src", "dst", nIters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    var h = nodes.map(_ -> 1L).toMap
    var a = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to 2) {
      a = nodes.map(n => n -> edgeList.filter(_._2 == n).map(e => h(e._1)).sum).toMap
      h = nodes.map(n => n -> edgeList.filter(_._1 == n).map(e => a(e._2)).sum).toMap
    }
    assert(got == nodes.map(n => n -> (h(n), a(n))).toMap)
    // node 2 points at both authorities -> top hub; 4 fed by the hubs -> top auth
    assert(got(2L)._1 == got.values.map(_._1).max)
    assert(got(4L)._2 == got.values.map(_._2).max)
  }

  // ---- reference-LM scoring + char entropy --------------------------------

  test("refUnigramLogLoss: in-vocab words cost per the ref counts, OOV takes the bucket") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "good words good", "ref"),
      (2L, "good words", "other"),
      (3L, "zzz qqq", "other") // fully OOV
    ).toDF("doc_id", "text", "source")
    val out = CorpusStats.refUnigramLogLoss(docs, "doc_id", "text", col("source") === "ref")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ref slice: good=2, words=1 -> N=3, V=2, denom=6
    def q(p: Double): Long = math.floor(-math.log(p) * 1e6).toLong
    val qGood = q(3.0 / 6.0); val qWords = q(2.0 / 6.0); val qOov = q(1.0 / 6.0)
    def m(qs: Seq[Long]): Double =
      BigDecimal(qs.sum.toDouble / (qs.size * 1e6)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == m(Seq(qGood, qWords, qGood)))
    assert(out(2L) == m(Seq(qGood, qWords)))
    assert(out(3L) == m(Seq(qOov, qOov)))
  }

  test("charEntropy matches the micro-nat model; uniform beats repeated") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "abcd"), (3L, "aabb"), (4L, "")).toDF("doc_id", "text")
    val out = CorpusStats.charEntropy(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    def model(t: String): (Long, Double) = {
      val cs = t.groupBy(identity).values.map(_.length.toLong)
      val n = cs.sum
      val sSum = cs.map(c => c * math.floor(math.log(c.toDouble) * 1e6).toLong).sum
      val ent = math.floor(math.log(n.toDouble) * 1e6).toLong - math.floor(sSum.toDouble / n).toLong
      (n, BigDecimal(ent.toDouble / 1e6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out(1L) == model("aaaa") && out(1L)._2 == 0.0)
    assert(out(2L) == model("abcd"))
    assert(out(3L) == model("aabb"))
    assert(!out.contains(4L)) // empty text has no characters to measure
    assert(out(2L)._2 > out(3L)._2 && out(3L)._2 > out(1L)._2)
  }

  // ---- sharded sink -------------------------------------------------------

  test("ShardedSink round-trips assignments and prunes partitions on read") {
    val s = spark
    import s.implicits._
    val df = (0L until 40L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val sharded = Packing.rendezvousShard(df, "doc_id", nShards = 4)
    val base = s"${sys.props("java.io.tmpdir")}/graft_sharded_spec"
    graft.sources.ShardedSink.write(sharded, base, "shard")
    val back = graft.sources.ShardedSink.read(s, base)
    val want = sharded.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // pruning: a shard-filtered scan must touch only that shard's directory
    val files = back.filter(col("shard") === 1L)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("shard=1")), files.mkString(","))
  }

  // ---- power iteration ----------------------------------------------------

  test("powerIteration finds the dominant axis of an anisotropic cloud") {
    val s = spark
    import s.implicits._
    // variance concentrated on axis 1; axes 0/2/3 carry small mixed noise
    val rows = Seq(
      Seq(0.5f, 9.0f, 0.1f, -0.2f), Seq(-0.4f, 8.5f, -0.1f, 0.1f),
      Seq(0.3f, 9.5f, 0.2f, 0.2f), Seq(-0.2f, 8.8f, -0.3f, -0.1f),
      Seq(0.1f, 9.2f, 0.0f, 0.3f))
    val df = rows.map(Tuple1(_)).toDF("embedding")
    val v = Embeddings.powerIteration(df, "embedding", dims = 4, nIters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v(1L) == 1000000L, v)           // dominant axis at full scale
    assert(math.abs(v(0L)) < 100000L, v)   // noise axes an order down
    assert(math.abs(v(2L)) < 100000L && math.abs(v(3L)) < 100000L, v)
  }

  test("removeTopComponent zeroes the projection onto the dominant axis") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, Seq(0.5f, 9.0f, 0.1f, -0.2f)), (2L, Seq(-0.4f, 8.5f, -0.1f, 0.1f)),
      (3L, Seq(0.3f, 9.5f, 0.2f, 0.2f)), (4L, Seq(-0.2f, 8.8f, -0.3f, -0.1f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Embeddings.removeTopComponent(df, "vec_id", "embedding", dims = 4, nIters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 16)
    // the dominant (axis-1-heavy) coordinate collapses; residual mass is noise-scale
    rows.foreach { case (id, v) =>
      assert(math.abs(out((id, 1L))) < 0.25, s"doc $id kept ${out((id, 1L))} on the top axis")
      assert(math.abs(out((id, 1L))) < math.abs(v(1)) / 10)
    }
  }

  // ---- paragraph dedup ----------------------------------------------------

  test("paragraphDedup cuts corpus-shared lines, keeps structure and order") {
    val df = docsDf(Seq(
      (1L, "keep me\nSHARED FOOTER\nalso mine"),
      (2L, "other text\n\nSHARED FOOTER"),   // empty line kept verbatim
      (3L, "unique solo doc"),
      (4L, "SHARED FOOTER")))                // every line cut -> md5('')
    val out = Dedup.paragraphDedup(df, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(1L) == ((3L, 1L, m("keep me\nalso mine"))))
    assert(out(2L) == ((3L, 1L, m("other text\n"))))       // empty line survives
    assert(out(3L) == ((1L, 0L, m("unique solo doc"))))
    assert(out(4L) == ((1L, 1L, m(""))))                   // all-removed doc
  }

  // ---- perceptual hash ----------------------------------------------------

  test("Multimodal.dHash is stable under small edits, distinct for reshuffles") {
    val s = spark
    import s.implicits._
    val base = ("x" * 40) + ("m" * 40) + ("z" * 50)
    val rows = Seq(
      (1L, base),
      (2L, base),                                  // identical -> same hash
      (3L, base.updated(45, 'n')),                 // one-byte edit -> few bits flip
      (4L, scala.util.Random.javaRandomToRandom(new java.util.Random(7))
        .shuffle(base.toSeq).mkString),            // global reshuffle -> different gradient
      (5L, ""))                                    // empty -> 0
    val df = graft.operators.Multimodal.withBinaryPayload(
      rows.toDF("doc_id", "text"), "text", "payload")
    val out = Multimodal.dHash(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(5L) == 0L)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(out(1L), out(3L)) <= 4, s"edit flipped ${hamming(out(1L), out(3L))} bits")
    assert(hamming(out(1L), out(4L)) > hamming(out(1L), out(3L)))
  }

  // ---- streaming drift ----------------------------------------------------

  test("StreamDrift per-window PSI matches its batch face through a stream") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("2024-01-01 01:00:00", 10.0), ("2024-01-01 02:00:00", 12.0),
      ("2024-01-01 03:00:00", 30.0),
      ("2024-01-02 01:00:00", 95.0), ("2024-01-02 02:00:00", 99.0))
      .map { case (t, v) => (java.sql.Timestamp.valueOf(t), v) }
    val df = rows.toDF("ts", "value")
    val base = Seq(400000L, 300000L, 200000L, 100000L) // baseline leans low
    val batch = graft.streaming.StreamDrift
      .psiPerWindow(df, "value", base, 0.0, 100.0, "1 day")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(batch.length == 2)
    val byDay = batch.map(t => t._1.toString.take(10) -> t._3).toMap
    // day 2 concentrates in the baseline-light top bin -> clearly higher psi
    assert(byDay("2024-01-02") > byDay("2024-01-01"), byDay)
    // the same plan through a real stream yields identical rows
    val dir = java.nio.file.Files.createTempDirectory("graft-sdrift").toFile
    df.write.mode("overwrite").parquet(dir + "/in")
    val st = s.readStream.schema(df.schema).parquet(dir + "/in")
    val q = graft.streaming.StreamDrift
      .psiPerWindow(st, "value", base, 0.0, 100.0, "1 day")
      .writeStream.format("memory").queryName("sdrift").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.table("sdrift")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      assert(got.sorted.sameElements(batch.sorted), got.mkString(","))
    } finally q.stop()
  }

  // ---- ingest screening ---------------------------------------------------

  test("IngestScreen flags exact, near-dup and contaminated batch docs") {
    val s = spark
    import s.implicits._
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val bench13 = (1 to 13).map(i => s"bench$i").mkString(" ")
    val history = Seq((1L, longA), (2L, "old other content here")).toDF("doc_id", "text")
    val bench = Seq((100L, bench13)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, longA),                                   // exact + near dup of history
      (11L, s"fresh unique words $bench13 trailing"), // contaminated
      (12L, "entirely novel material nobody saw"),    // clean -> keep
      (13L, "entirely novel material nobody saw"))    // within-batch copy of 12
      .toDF("doc_id", "text")
    val out = IngestScreen.screen(batch, "doc_id", "text", history, bench, 0.8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(10L) == ((1L, 1L, 0L, 0L)), out)  // seen in history
    assert(out(11L) == ((0L, 0L, 1L, 0L)), out)  // leaked bench gram
    assert(out(12L) == ((0L, 0L, 0L, 1L)), out)  // canonical copy keeps
    assert(out(13L) == ((1L, 0L, 0L, 0L)), out)  // within-batch duplicate
  }

  // ---- text canonicalization + leakage-safe split -------------------------

  test("normalizeTextCol collapses whitespace and strips control chars") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "  hello\t\tworld \r\n"),
      (2L, "a\u0000b\u0007c"),      // control chars -> spaces -> collapsed
      (3L, "already clean"),
      (4L, "\n\n\n"),               // whitespace-only -> empty
      (5L, "hello world"))
    val out = rows.toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFunctions.normalizeTextCol(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world")
    assert(out(2L) == "a b c")
    assert(out(3L) == "already clean")
    assert(out(4L) == "")
    // formatting-only variants now hash identically
    assert(out(1L) == out(5L))
  }

  test("splitByDuplicateGroup co-assigns every exact duplicate") {
    val s = spark
    import s.implicits._
    val df = (0L until 30L).map(i => (i, s"text ${i % 7}")).toDF("doc_id", "text")
    val out = Sampling.splitByDuplicateGroup(df, "doc_id", "text", 60, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(out.length == 30)
    // all copies of the same text share one canonical id and one split
    val byCanon = out.groupBy(_._2)
    assert(byCanon.size == 7)
    byCanon.values.foreach { g => assert(g.map(_._3).distinct.length == 1) }
    // and the split matches withSplit on the canonical key directly
    val direct = Sampling.withSplit(
        df.select(col("doc_id") % 7 as "canonical_id").distinct(), "canonical_id", 60, 20)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    out.foreach { case (id, canon, split) => assert(split == direct(id % 7)) }
  }

  // ---- keep-best dedup ----------------------------------------------------

  test("keepBestBy keeps the highest-scored duplicate, ties to smaller id") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "same text", 0.3),
      (2L, "same text", 0.9),  // highest score in the group -> kept
      (3L, "same text", 0.9),  // tie with 2 -> larger id loses
      (4L, "unique", 0.1),     // singleton -> kept
      (5L, null.asInstanceOf[String], 0.5)) // null text dropped
      .toDF("doc_id", "text", "quality")
    val out = Dedup.keepBestBy(df, "doc_id", "text", "quality")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L), out)
  }

  // ---- PSI drift ----------------------------------------------------------

  test("psiDrift is zero for identical corpora and flags a shifted one") {
    val s = spark
    import s.implicits._
    val base = Seq(10L, 10L, 20L, 30L, 30L, 30L).toDF("v")
    // identical distribution -> every smoothed mass matches -> psi 0
    val same = CorpusStats.psiDrift(base, base, "v", 0.0, 40.0, 4).collect()
    assert(same.length == 4)
    assert(same.forall(_.getAs[Long]("psi_micro") == 0L))
    assert(same.map(_.getAs[Long]("n_base")).sum == 6L)
    // mass moved entirely to the top bin -> positive psi in moved-from/to bins
    val shifted = Seq(39L, 39L, 39L, 39L, 39L, 39L).toDF("v")
    val drift = CorpusStats.psiDrift(base, shifted, "v", 0.0, 40.0, 4)
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("psi_micro")).toMap
    assert(drift.values.forall(_ >= 0L))
    assert(drift(3L) > 0L && drift(1L) > 0L, drift)
    // model-check one cell exactly: bin 3 has base c=3/t=6, cur c=6/t=6
    val bm = (3L + 1L) * 1000000L / (6L + 4L)
    val cm = (6L + 1L) * 1000000L / (6L + 4L)
    val dln = math.floor((math.log(cm.toDouble) - math.log(bm.toDouble)) * 1e6).toLong
    assert(drift(3L) == (cm - bm) * dln / 1000000L)
    // clamp rule: out-of-range values land in edge bins, not dropped
    val clamped = CorpusStats.psiDrift(Seq(-5L).toDF("v"), Seq(99L).toDF("v"), "v", 0.0, 40.0, 4)
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_base"), r.getAs[Long]("n_cur")))
    assert(clamped.contains((0L, 1L, 0L)) && clamped.contains((3L, 0L, 1L)))
  }

  test("bpeTrainMerges learns greedy non-overlapping merges across rounds") {
    val df = docsDf(Seq((1L, "aaaa aaaa aaaa aaaaaa ab")))
    val out = CorpusStats.bpeTrainMerges(df, "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    // r1: (a,a) = 3 words x 3 pairs + 5 pairs in aaaaaa = 14; aaaa -> [aa,aa],
    //     aaaaaa -> [aa,aa,aa] (1st/3rd/5th marks of the run)
    // r2: (aa,aa) = 3x1 + 2 = 5; [aa,aa,aa] takes only the FIRST overlapping
    //     mark -> [aaaa,aa] (the gapped-position overlap case)
    // r3: tie (aaaa,aa)=1 vs (a,b)=1 -> pair-asc tie-break picks (a,b)
    assert(out sameElements Array(
      (1L, "a", "a", "aa", 14L),
      (2L, "aa", "aa", "aaaa", 5L),
      (3L, "a", "b", "ab", 1L)), out.mkString(", "))
  }

  test("bpeSegmentWords emits the final segmentation under the learned merges") {
    val df = docsDf(Seq((1L, "aaaa aaaa aaaa aaaaaa ab")))
    val out = CorpusStats.bpeSegmentWords(df, "text", 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out == Map(
      "aaaa" -> ((3L, 1L, "aaaa")),
      "aaaaaa" -> ((1L, 2L, "aaaa aa")),
      "ab" -> ((1L, 1L, "ab"))), out)
  }

  test("ksDrift finds the worst CDF gap; zero for identical corpora") {
    val s = spark
    import s.implicits._
    val base = Seq(5L, 15L, 25L, 35L).toDF("v")
    val same = CorpusStats.ksDrift(base, base, "v", 0.0, 40.0, 4).collect()
    assert(same.length == 1 && same(0).getAs[Long]("ks_micro") == 0L)
    // cur mass all in bin 0 -> CDF gap peaks at bin 0: |1e6*1/1 - 1e6*1/4|
    val cur = Seq(1L, 2L).toDF("v")
    val r = CorpusStats.ksDrift(base, cur, "v", 0.0, 40.0, 4).collect()(0)
    assert(r.getAs[Long]("n_base") == 4L && r.getAs[Long]("n_cur") == 2L)
    assert(r.getAs[Long]("at_bin") == 0L)
    assert(r.getAs[Long]("ks_micro") == math.abs(1000000L * 1 / 4 - 1000000L * 2 / 2))
  }

  test("psiDriftByGroup flags the shifted source only") {
    val s = spark
    import s.implicits._
    // two big uniform sources dominate the corpus mix; a small all-high
    // source must stand out against that blend
    val df = (Seq.tabulate(40)(i => ("a", (i % 4) * 10L + 5L)) ++
      Seq.tabulate(40)(i => ("c", (i % 4) * 10L + 5L)) ++
      Seq.fill(8)(("b", 35L))).toDF("source", "v")
    val out = CorpusStats.psiDriftByGroup(df, "source", "v", 0.0, 40.0, 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a")._1 == 40L && out("b")._1 == 8L)
    assert(out("b")._2 > out("a")._2 && out("b")._2 > out("c")._2, out)
    // the two corpus-shaped sources score identically and low
    assert(out("a")._2 == out("c")._2)
    assert(out.values.forall(_._2 >= 0L))
  }

  // ---- grouped MMR exemplars ----------------------------------------------

  test("groupExemplars picks the prototypical row first, then diversity") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // group "a": two duplicate (1,0) vectors + one orthogonal (0,1)
      (1L, "a", Array(1f, 0f)),
      (2L, "a", Array(1f, 0f)),
      (3L, "a", Array(0f, 1f)),
      // group "b": singleton; group null and zero-norm rows must vanish
      (10L, "b", Array(3f, 4f)),
      (11L, null.asInstanceOf[String], Array(1f, 1f)),
      (12L, "a", Array(0f, 0f)))
    val df = rows.toDF("vec_id", "source", "embedding")
    val out = Dedup.groupExemplars(df, "vec_id", "embedding", "source", k = 2, lambda = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    // a: centroid leans to (1,0) -> rank1 = id 1 (tie to smaller id over the
    // duplicate id 2); rank2 = the ORTHOGONAL id 3, not the duplicate
    // b: single eligible member at rank 1; null-group + zero-norm dropped
    assert(out == Set(("a", 1L, 1L), ("a", 3L, 2L), ("b", 10L, 1L)), out)
  }

  // ---- hashed linear classifier -------------------------------------------

  test("linearTextScore matches a brute-force hashed-model evaluation") {
    val s = spark
    import s.implicits._
    val dim = 16
    val docs = docsDf(Seq(
      (1L, "alpha beta alpha"),
      (2L, "GAMMA, delta!"),   // lowercased word runs: gamma, delta
      (3L, ""),                // no words -> absent from output
      (4L, "alpha")))
    // sparse weight table: only some buckets carry weight (missing -> 0),
    // including a negative weight to exercise the generic path
    val bucketOf = (w: String) =>
      ((graft.functions.TextFunctions.tHash(w) % dim) + dim) % dim
    val weights = Seq(
      (bucketOf("alpha"), 500000L),
      (bucketOf("gamma"), -250000L)).toDF("bucket", "w_micro")
    val out = CorpusStats.linearTextScore(docs, "doc_id", "text", weights, dim)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // model: per-word weight lookup, integer-truncated mean
    def model(ws: Seq[String]) = {
      val wm = Map(bucketOf("alpha") -> 500000L, bucketOf("gamma") -> -250000L)
      val sum = ws.map(w => wm.getOrElse(bucketOf(w), 0L)).sum
      (ws.size.toLong, sum, sum / ws.size)
    }
    assert(out(1L) == model(Seq("alpha", "beta", "alpha")))
    assert(out(2L) == model(Seq("gamma", "delta")))
    assert(out(4L) == model(Seq("alpha")))
    assert(!out.contains(3L))
    // sanity: alpha-heavy doc outscores the negative-weight doc
    assert(out(1L)._3 > out(2L)._3)
  }

  // ---- compaction sink + manifest skipping --------------------------------

  test("CompactTable lays out sized files and the pruned read skips files") {
    val s = spark
    import s.implicits._
    val df = (0L until 100L).map(i => (i, s"doc $i", i * 10L)).toDF("doc_id", "text", "len")
    val base = s"${sys.props("java.io.tmpdir")}/graft_compact_spec"
    graft.sources.CompactTable.writeCompacted(df, base, "len", targetRowsPerFile = 25L)
    // ceil(100/25) = 4 files, disjoint len ranges covering all 100 rows
    val man = graft.sources.CompactTable.manifest(s, base).collect()
    assert(man.length == 4, man.mkString(","))
    assert(man.map(_.getAs[Long]("rows")).sum == 100L)
    val ranges = man.map(r => (r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))).sorted
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo) }
    // pruned read = full filter, bit-identical
    val got = graft.sources.CompactTable.prunedRead(s, base, "len", 200L, 400L)
      .select("doc_id", "len").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = df.filter(col("len") >= 200L && col("len") <= 400L)
      .select("doc_id", "len").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want) && got.nonEmpty)
    // and it actually skipped files: a narrow range opens a strict subset
    val opened = graft.sources.CompactTable.prunedRead(s, base, "len", 200L, 240L)
      .select(input_file_name()).distinct().count()
    assert(opened < 4, s"expected pruning, opened $opened of 4 files")
    // empty range yields zero rows without error
    assert(graft.sources.CompactTable.prunedRead(s, base, "len", 5000L, 6000L).count() == 0L)
  }

  // ---- greedy packing -----------------------------------------------------

  test("packGreedy matches a sequential fold model; resets per group") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("a", 1L, 300L), ("a", 2L, 400L), ("a", 3L, 400L), // 300+400=700, +400>1000 -> new bin
      ("a", 4L, 1500L),                                  // oversized doc gets its own bin
      ("a", 5L, 10L),
      ("b", 10L, 999L), ("b", 11L, 1L), ("b", 12L, 1L)   // 999+1=1000 fits exactly
    )
    val df = rows.toDF("source", "doc_id", "n")
    val got = Packing.packGreedy(df, "source", "doc_id", "n", 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    def model(ns: Seq[(Long, Long)]): Map[Long, Long] = {
      var acc = 0L; var bin = 0L
      ns.sortBy(_._1).map { case (id, n) =>
        if (acc > 0L && acc + n > 1000L) { bin += 1L; acc = 0L }
        acc += n; id -> bin
      }.toMap
    }
    for ((g, items) <- rows.groupBy(_._1)) {
      val m = model(items.map(t => (t._2, t._3)))
      for ((id, bin) <- m) assert(got((g, id)) == bin, s"group $g id $id")
    }
    assert(got(("a", 4L)) == 2L && got(("a", 5L)) == 3L) // oversized isolates
    assert(got(("b", 11L)) == 0L)                        // exact-fit boundary
    assert(got(("b", 12L)) == 1L)                        // one over closes it
  }

  // ---- funnel + retention -------------------------------------------------

  private def eventsDf(rows: Seq[(Long, String, Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "tss", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
  }

  test("funnel userStages matches the greedy chained-earliest-match model") {
    val ev = eventsDf(Seq(
      // u1 completes all four in order
      (1L, "2024-01-01 00:00:01", 1L, "signup"),
      (2L, "2024-01-01 00:00:02", 1L, "view"),
      (3L, "2024-01-01 00:00:03", 1L, "click"),
      (4L, "2024-01-01 00:00:04", 1L, "purchase"),
      // u2: click ties the view anchor's timestamp -> strict > excludes it
      (5L, "2024-01-01 00:00:02", 2L, "signup"),
      (6L, "2024-01-01 00:00:03", 2L, "view"),
      (7L, "2024-01-01 00:00:03", 2L, "click"),
      (8L, "2024-01-01 00:00:04", 2L, "purchase"),
      // u3: signup only; u4: right events, wrong order
      (9L, "2024-01-01 00:00:05", 3L, "signup"),
      (10L, "2024-01-01 00:00:01", 4L, "purchase"),
      (11L, "2024-01-01 00:00:02", 4L, "click"),
      (12L, "2024-01-01 00:00:03", 4L, "view"),
      (13L, "2024-01-01 00:00:04", 4L, "signup"),
      // u5: no funnel event types at all
      (14L, "2024-01-01 00:00:01", 5L, "error")))
    val steps = Seq("signup", "view", "click", "purchase")
    val got = Funnel.userStages(ev, "user_id", "event_type", "event_id", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 4, 2L -> 2, 3L -> 1, 4L -> 1))
    val f = Funnel.funnel(spark, ev, "user_id", "event_type", "event_id", steps)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(f.toSeq == Seq((1L, "signup", 4L), (2L, "view", 2L),
      (3L, "click", 1L), (4L, "purchase", 1L)))
  }

  test("retention matches the hand cohort matrix") {
    val ev = eventsDf(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),  // u1 cohort 01-01
      (2L, "2024-01-02 11:00:00", 1L, "click"), //   active offset 1
      (3L, "2024-01-02 23:00:00", 1L, "view"),  //   same cell, counted once
      (4L, "2024-01-01 09:00:00", 2L, "view"),  // u2 cohort 01-01
      (5L, "2024-01-03 00:00:00", 2L, "view"),  //   active offset 2
      (6L, "2024-01-02 05:00:00", 3L, "signup") // u3 cohort 01-02 only
    ))
    val got = Funnel.retention(ev, "user_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 2L) -> 1L, ("2024-01-02", 0L) -> 1L))
  }
}
