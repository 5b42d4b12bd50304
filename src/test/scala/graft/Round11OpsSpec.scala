package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-11 additions: C4 line-rule cleaning, group-level
  * MinHash similarity, stitch pairs, Poisson bootstrap replicates, and the
  * exposed k-means assignment. */
class Round11OpsSpec extends AnyFunSuite with LocalSpark {

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- lineRuleClean ------------------------------------------------------

  test("lineRuleClean drops short and corpus-frequent lines, keeps order") {
    val boiler = "about us contact terms"
    val df = docsDf(Seq(
      (1L, s"alpha beta gamma delta\nshort one\n$boiler\nepsilon zeta eta"),
      (2L, s"$boiler\nunique brand new line content")))
    val out = Dedup.lineRuleClean(df, "doc_id", "text", minWords = 3, maxLineDf = 2L)
      .orderBy("doc_id").collect()
    // doc 1: 4 non-empty lines; "short one" (<3 words) and boiler (df=2) cut
    assert(out(0).getAs[Long]("n_lines") == 4L)
    assert(out(0).getAs[Long]("kept_lines") == 2L)
    // doc 2: boiler cut, the unique 5-word line kept
    assert(out(1).getAs[Long]("n_lines") == 2L)
    assert(out(1).getAs[Long]("kept_lines") == 1L)
    // digest = md5 of the kept lines joined in original order
    val expected1 = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha beta gamma delta\nepsilon zeta eta".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(0).getAs[String]("clean_md5") == expected1)
  }

  test("lineRuleClean: doc with all lines cut digests the empty string") {
    val df = docsDf(Seq((1L, "a b\nc d")))
    val out = Dedup.lineRuleClean(df, "doc_id", "text", minWords = 3, maxLineDf = 2L)
      .collect()
    assert(out.head.getAs[Long]("kept_lines") == 0L)
    assert(out.head.getAs[String]("clean_md5") == "d41d8cd98f00b204e9800998ecf8427e")
  }

  // ---- groupSignatureSim --------------------------------------------------

  test("groupSignatureSim: identical content mixes estimate 1.0") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "an entirely different second document about spark aggregation plans"
    val df = docsDf(Seq((1L, t1), (2L, t2), (3L, t1), (4L, t2)))
      .withColumn("grp", when(col("doc_id") <= 2, "a").otherwise("b"))
    val out = Dedup.groupSignatureSim(df, "grp", "text").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("group_a") == "a" && r.getAs[String]("group_b") == "b")
    assert(r.getAs[Long]("matching") == 32L)
    assert(r.getAs[Double]("est_jaccard") == 1.0)
    assert(r.getAs[Long]("n_docs_a") == 2L && r.getAs[Long]("n_docs_b") == 2L)
  }

  test("groupSignatureSim: disjoint groups estimate near 0; sketch merges") {
    val df = docsDf(Seq(
      (1L, "apple banana cherry date elderberry fig grape"),
      (2L, "spark shuffle exchange partition broadcast join aggregate"))
    ).withColumn("grp", concat(lit("g"), col("doc_id")))
    val out = Dedup.groupSignatureSim(df, "grp", "text").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("matching") <= 4L) // collisions only
    // merge property: a group of both docs vs itself is not emitted (a < b
    // only), but its signature equals the elementwise min — check via the
    // pairwise estimate of {doc1} vs {doc1, doc2}: every minimum of the
    // union is <= the singleton's, so matches = positions where doc1 holds
    // the union min; recompute directly
    val both = docsDf(Seq(
      (1L, "apple banana cherry date elderberry fig grape"),
      (2L, "spark shuffle exchange partition broadcast join aggregate"),
      (3L, "apple banana cherry date elderberry fig grape")))
      .withColumn("grp", when(col("doc_id") <= 2, "u").otherwise("s"))
    val est = Dedup.groupSignatureSim(both, "grp", "text").collect().head
    assert(est.getAs[Long]("matching") >= 10L) // singleton shares ~half the union minima
  }

  // ---- stitchPairs --------------------------------------------------------

  test("stitchPairs finds tail-head overlaps, excludes self and short docs") {
    val df = docsDf(Seq(
      (1L, "one two three four alpha beta"),          // tail-2: alpha beta
      (2L, "alpha beta five six seven eight"),        // head-2: alpha beta
      (3L, "alpha beta"),                             // both gram = alpha beta
      (4L, "nine")))                                  // < 2 words: absent
    val out = Dedup.stitchPairs(df, "doc_id", "text", k = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc3 tail == docs 2,3 head but self excluded; doc1 tail == docs 2,3 head
    assert(out == Set((1L, 2L), (1L, 3L), (3L, 2L)))
  }

  // ---- bootstrapCounts ----------------------------------------------------

  test("bootstrapCounts: deterministic, Poisson-shaped, key-stable") {
    val df = docsDf((1L to 400L).map(i => (i, "t")))
    val out1 = Sampling.bootstrapCounts(df, "doc_id", nReplicates = 4)
      .orderBy("replicate").collect()
    val out2 = Sampling.bootstrapCounts(df, "doc_id", nReplicates = 4)
      .orderBy("replicate").collect()
    assert(out1.map(_.toSeq).toSeq == out2.map(_.toSeq).toSeq)
    assert(out1.length == 4)
    out1.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 400L)
      // mean 1 draw/doc, sd ~ sqrt(400)=20: generous 5-sigma band
      val drawn = r.getAs[Long]("n_drawn")
      assert(drawn > 300L && drawn < 500L, s"n_drawn $drawn outside Poisson band")
      // presence fraction ~ 1 - e^-1 = 0.632
      val uniq = r.getAs[Long]("n_unique")
      assert(uniq > 200L && uniq < 320L, s"n_unique $uniq outside band")
    }
  }

  // ---- stupidBackoffLogLoss -----------------------------------------------

  test("stupidBackoffLogLoss: seen bigrams cheap, backoff fires on unseen") {
    val df = docsDf(Seq(
      (1L, "the cat sat on the mat"),    // train
      (2L, "the cat sat on the mat"),    // identical: all bigrams seen
      (3L, "mat the zebra jumps")))      // "mat the" unseen order, zebra OOV
    val out = CorpusStats.stupidBackoffLogLoss(df, "doc_id", "text",
      col("doc_id") === 1L, alphaMilli = 400)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    val seenCost = out(1).getAs[Double]("sbo_xent")
    val backoffCost = out(2).getAs[Double]("sbo_xent")
    assert(out(1).getAs[Long]("n_bigrams") == 5L)
    assert(backoffCost > seenCost, s"backoff $backoffCost !> seen $seenCost")
    // deterministic: identical docs score identically
    assert(out(0).getAs[Double]("sbo_xent") == seenCost)
  }

  // ---- groupQuantileNorm --------------------------------------------------

  test("groupQuantileNorm: within-group milli ranks, ties share, singleton 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L), (4L, "a", 40L),
      (5L, "b", 99L)).toDF("doc_id", "grp", "v")
    val out = CorpusStats.groupQuantileNorm(df, "doc_id", "v", "grp")
      .orderBy("doc_id").collect().map(_.getAs[Long]("qnorm_milli"))
    // group a (n=4): ranks 1,2,2,4 -> (r-1)*1000 DIV 3 = 0, 333, 333, 1000
    assert(out.toSeq == Seq(0L, 333L, 333L, 1000L, 0L))
  }

  // ---- cappedQuota --------------------------------------------------------

  test("cappedQuota clamps, redistributes once, never exceeds budget") {
    val s = spark
    import s.implicits._
    // weights 700/200/100 of budget 1000, cap 400: raw 700/200/100 ->
    // a clamps to 400, spill 300 shared 200:100 -> b=200+200=400, c=100+100=200
    val df = Seq.tabulate(10)(i => (i.toLong, "a", 70L)) ++
      Seq.tabulate(10)(i => (100L + i, "b", 20L)) ++
      Seq.tabulate(10)(i => (200L + i, "c", 10L))
    val out = Sampling.cappedQuota(df.toDF("id", "src", "w"), "src", "w",
      budget = 1000L, cap = 400L)
      .orderBy("src").collect()
    val quotas = out.map(r => r.getAs[String]("src") -> r.getAs[Long]("quota")).toMap
    assert(quotas == Map("a" -> 400L, "b" -> 400L, "c" -> 200L))
    assert(out.map(_.getAs[Long]("quota")).sum <= 1000L)
    assert(out.map(_.getAs[Long]("raw_quota")).toSeq == Seq(700L, 200L, 100L))
  }

  // ---- topKQl -------------------------------------------------------------

  test("topKQl ranks by Dirichlet QL: more matches beat fewer, candidates only") {
    val df = docsDf(Seq(
      (1L, "spark spark spark filler filler"),
      (2L, "spark filler filler filler filler"),
      (3L, "nothing relevant here at all"),
      (10L, "spark")))            // the query doc
    val out = Bm25.topKQl(df, "doc_id", "text",
      df.filter(col("doc_id") === 10L), "doc_id", "text", k = 10)
      .orderBy("rank").collect()
    // doc 3 shares no term: absent; 10 (tf=1, dl=1) then 1 then 2 by score
    val ranked = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(!ranked.contains(3L))
    assert(ranked.indexOf(1L) < ranked.indexOf(2L), s"order was $ranked")
    // scores strictly ordered with deterministic ties
    val scores = out.map(_.getAs[Long]("score_micro")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  // ---- quotaFill ----------------------------------------------------------

  test("quotaFill takes docs greedily within the per-source quota") {
    val s = spark
    import s.implicits._
    // one source, weights 50,30,20,10; budget==total -> quota=cap=100 caps at 60
    val df = Seq((1L, "a", 50L), (2L, "a", 30L), (3L, "a", 20L), (4L, "a", 10L))
      .toDF("id", "src", "w")
    val out = Sampling.quotaFill(df, "id", "src", "w", budget = 110L, cap = 85L)
      .orderBy("id").collect()
    // raw = 110 (uncapped would be all); cap 85 -> quota 85: cum 50,80,100 -> keep ids 1,2
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    assert(out.map(_.getAs[Long]("cum_w")).toSeq == Seq(50L, 80L))
  }

  // ---- removeDuplicateSpansAll --------------------------------------------

  test("removeDuplicateSpansAll cuts within-doc self-repeats") {
    val rep = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 chars, k=20 grams repeat
    val df = docsDf(Seq((1L, rep + rep), (2L, "entirely fresh unrepeated content")))
    val out = Dedup.removeDuplicateSpansAll(df, "doc_id", "text", k = 20)
      .orderBy("doc_id").collect()
    // doc 1: the doubled block self-repeats -> spans cover (most of) it
    assert(out(0).getAs[Long]("removed_chars") > 0L)
    // doc 2: nothing repeated, passes through verbatim
    assert(out(1).getAs[Long]("removed_chars") == 0L)
    assert(out(1).getAs[String]("clean_text") == "entirely fresh unrepeated content")
  }

  // ---- signFingerprints / topKBinary --------------------------------------

  test("signFingerprints packs sign bits; Hamming top-k ranks by bit diff") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, -1.0f, 0.0f)),   // bits 0,1 -> 3
      (2L, Array(1.0f, 1.0f, 1.0f, -1.0f)),   // bits 0,1,2 -> 7 (ham 1 vs v1)
      (3L, Array(-1.0f, -1.0f, 1.0f, 1.0f)),  // bits 2,3 -> 12 (ham 4 vs v1)
      (4L, Array(1.0f, -1.0f, -1.0f, -1.0f))  // bit 0 -> 1 (ham 1 vs v1)
    ).toDF("vec_id", "embedding")
    val sig = SimSearch.signFingerprints(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("sig")).toMap
    assert(sig == Map(1L -> 3L, 2L -> 7L, 3L -> 12L, 4L -> 1L))
    val out = SimSearch.topKBinary(vecs.filter(col("vec_id") === 1L), "vec_id",
      "embedding", vecs, "vec_id", "embedding", k = 3, excludeSelf = true)
      .orderBy("hamming", "neighbor_id").collect()
    assert(out.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming"))).toSeq ==
      Seq((2L, 1L), (4L, 1L), (3L, 4L)))
  }

  // ---- StreamQuota --------------------------------------------------------

  test("StreamQuota: skip-and-continue admission; stream equals batch") {
    val s = spark
    import s.implicits._
    // quota 45: 10+20+10 admitted (40), 30 rejected (70>45), 5 admitted (45)
    val rows = Seq((1L, "s", 10L), (2L, "s", 20L), (3L, "s", 10L),
      (4L, "s", 30L), (5L, "s", 5L), (6L, "s", 1L))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val quotas = Map("s" -> 45L)
    val batch = graft.streaming.StreamQuota
      .admit(df, "doc_id", "source", "n_chars", quotas)
      .collect().map(a => a.id -> a.admitted).toMap
    assert(batch == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 1L, 6L -> 0L))
    // true streaming: ids arrive in order across TWO micro-batches; the
    // per-source Long state must carry the admitted weight between them
    val dir = java.nio.file.Files.createTempDirectory("graft-squota").toString
    rows.take(3).toDF("doc_id", "source", "n_chars")
      .coalesce(1).write.parquet(dir + "/in/b1")
    val src = spark.readStream.schema(df.schema).parquet(dir + "/in/*")
    val out = graft.streaming.StreamQuota
      .admit(src, "doc_id", "source", "n_chars", quotas)
    val q = out.writeStream.format("memory").queryName("squota")
      .option("checkpointLocation", dir + "/ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      rows.drop(3).toDF("doc_id", "source", "n_chars")
        .coalesce(1).write.parquet(dir + "/in/b2")
      q.processAllAvailable()
      val streamed = spark.table("squota")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("admitted")).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  // ---- rakeTopPhrase ------------------------------------------------------

  test("rakeTopPhrase: degree/frequency scoring picks the long run") {
    // 'the' dominates counts -> the single stopword; phrases split on it
    val df = docsDf(Seq(
      (1L, "the red car the red car wash the zz"),
      (2L, "the the the the the zz yy")))
    val out = CorpusStats.rakeTopPhrase(df, "doc_id", "text", nStopwords = 1)
      .orderBy("doc_id").collect()
    // doc1 phrases: [red car], [red car wash], [zz]; red/car: deg 2+3=5,
    // freq 2 -> 2500 each; wash: deg 3 freq 1 -> 3000;
    // phrase 'red car wash' = 2500+2500+3000 = 8000 beats 'red car' 5000
    assert(out(0).getAs[String]("phrase") == "red car wash")
    assert(out(0).getAs[Long]("score_milli") == 8000L)
    assert(out(1).getAs[String]("phrase") == "zz yy")
  }

  // ---- topKBinaryRerank ---------------------------------------------------

  test("topKBinaryRerank: exact cosine reorders the Hamming shortlist") {
    val s = spark
    import s.implicits._
    // v2 and v3 tie on Hamming vs the query, but v3 has the better cosine
    val vecs = Seq(
      (1L, Array(1.0f, 1.0f, 0.5f, -1.0f)),
      (2L, Array(1.0f, 1.0f, 0.01f, 1.0f)),
      (3L, Array(1.0f, 1.0f, 0.5f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = SimSearch.topKBinaryRerank(vecs.filter(col("vec_id") === 1L),
      "vec_id", "embedding", vecs, "vec_id", "embedding",
      k = 2, shortlist = 2, excludeSelf = true).orderBy(desc("cosine")).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 2L))
  }

  // ---- weeklyChurn / associationRules -------------------------------------

  test("weeklyChurn: active = retained + incoming; churned closes the books") {
    val s = spark
    import s.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2026-03-$d%02d 10:00:00")
    // week of Mar 2 (Mon): users 1,2,3; week of Mar 9: users 2,3,4
    val ev = Seq((1L, ts(3)), (2L, ts(4)), (3L, ts(5)),
      (2L, ts(10)), (3L, ts(11)), (4L, ts(12)))
      .toDF("user_id", "ts")
    val out = EventStats.weeklyChurn(ev, "user_id").orderBy("week").collect()
    assert(out.length == 2)
    val w2 = out(1)
    assert(w2.getAs[Long]("n_active") == 3L)
    assert(w2.getAs[Long]("n_retained") == 2L)   // users 2,3
    assert(w2.getAs[Long]("n_incoming") == 1L)   // user 4
    assert(w2.getAs[Long]("n_churned") == 1L)    // user 1
    out.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_retained") + r.getAs[Long]("n_incoming"))
    }
  }

  test("associationRules: lift is symmetric, confidence bounded") {
    val s = spark
    import s.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2026-03-$d%02d 10:00:00")
    val ev = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(1)),       // basket u1/d1: view+click
      (2L, "view", ts(1)),                              // view alone
      (3L, "view", ts(2)), (3L, "click", ts(2)),       // view+click
      (3L, "error", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val out = EventStats.associationRules(ev, "user_id", "event_type")
      .collect().map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) -> r).toMap
    // lift numerator/denominator identical both directions -> equal micro
    assert(out(("view", "click")).getAs[Long]("lift_micro") ==
      out(("click", "view")).getAs[Long]("lift_micro"))
    // P(click | view) = 2/3
    assert(out(("view", "click")).getAs[Long]("confidence_milli") == 666L)
    assert(out(("click", "view")).getAs[Long]("confidence_milli") == 1000L)
    assert(out.values.forall(_.getAs[Long]("confidence_milli") <= 1000L))
  }

  // ---- linearAttribution --------------------------------------------------

  test("linearAttribution conserves 1000 milli per touched conversion") {
    val s = spark
    import s.implicits._
    val ts = (d: Int, h: Int) => java.sql.Timestamp.valueOf(f"2026-02-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, 1L, "view", ts(1, 9)),     // touch 1 (first)
      (2L, 1L, "click", ts(1, 10)),   // touch 2
      (3L, 1L, "view", ts(1, 11)),    // touch 3 (last: 333+1 remainder)
      (4L, 1L, "purchase", ts(1, 12)),
      (5L, 2L, "purchase", ts(1, 12)), // touchless conversion: no credit
      (6L, 3L, "click", ts(1, 9)),     // single-touch conversion: 1000
      (7L, 3L, "purchase", ts(1, 10)),
      (8L, 4L, "view", ts(20, 9)),     // outside any lookback window
      (9L, 4L, "purchase", ts(28, 9))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventStats.linearAttribution(ev, "user_id", "event_type",
      convType = "purchase", lookbackDays = 7)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_touches"), r.getAs[Long]("credit_milli"),
          r.getAs[Long]("n_first"), r.getAs[Long]("n_last"))).toMap
    // conv u1: 3 touches -> view 333(first)+334(last)=667, click 333
    // conv u3: click 1000 (first and last)
    assert(out("view") == (2L, 667L, 1L, 1L))
    assert(out("click") == (2L, 1333L, 1L, 1L))
    // total credit = 1000 per touched conversion (2 of them)
    assert(out.values.map(_._2).sum == 2000L)
  }

  // ---- decayedEngagement --------------------------------------------------

  test("decayedEngagement halves cents per half-life, anchored to max day") {
    val s = spark
    import s.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2026-01-${d}%02d 12:00:00")
    val ev = Seq(
      (1L, ts(21), 8.00),  // anchor day: full 800
      (1L, ts(14), 8.00),  // 7 days ago: 400
      (1L, ts(1), 8.00),   // 20 days ago: shift 2 -> 200
      (2L, ts(21), 1.00)
    ).toDF("user_id", "ts", "value")
    val out = EventStats.decayedEngagement(ev, "user_id", "value", halfLifeDays = 7)
      .orderBy("user_id").collect()
    assert(out(0).getAs[Long]("decayed_cents") == 800L + 400L + 200L)
    assert(out(1).getAs[Long]("decayed_cents") == 100L)
  }

  // ---- lengthBucketBatches ------------------------------------------------

  test("lengthBucketBatches: deciles by length, batches by running budget") {
    val s = spark
    import s.implicits._
    val df = (1L to 20L).map(i => (i, i * 10L)).toDF("id", "len")
    val out = Packing.lengthBucketBatches(df, "id", "len",
      nBuckets = 2, batchBudget = 100L).collect()
    // bottom half (len 10..100) in bucket 0, top half in bucket 1
    val b0 = out.filter(_.getAs[Long]("bucket") == 0L).map(_.getAs[Long]("id")).sorted
    assert(b0.toSeq == (1L to 10L))
    // bucket 0 cum: 10,30,60,100,150... -> batch 0 holds start<100: ids 1..4
    val batch0 = out.filter(r => r.getAs[Long]("bucket") == 0L &&
      r.getAs[Long]("batch_idx") == 0L).map(_.getAs[Long]("id")).sorted
    assert(batch0.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  // ---- kCorePeel ----------------------------------------------------------

  test("kCorePeel removes a tail chain, keeps the triangle core") {
    val s = spark
    import s.implicits._
    // triangle 1-2-3 + pendant path 3-4-5: 2-core = the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val nodes = (1L to 6L).toDF("id") // 6 isolated
    val out = GraphRank.kCorePeel(nodes, "id", edges, "a", "b",
      kcore = 2, rounds = 3)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("in_core"))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 0L), (5L, 0L), (6L, 0L)))
    // surviving degrees are within-core: each triangle node has 2
    assert(out.take(3).forall(_.getAs[Long]("deg") == 2L))
  }

  // ---- kmeansAssign -------------------------------------------------------

  test("kmeansAssign assigns every eligible vector to an in-range cluster") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 40L).map { i =>
      val base = (i % 4).toInt
      (i, Array.tabulate(8)(d => if (d == base * 2) 1.0f + (i % 3) * 0.01f else 0.05f))
    }.toDF("vec_id", "embedding")
    val out = SimSearch.kmeansAssign(vecs, "vec_id", "embedding", k = 4, nIters = 2)
      .collect()
    assert(out.length == 40)
    assert(out.forall(r => r.getAs[Long]("cluster") >= 0L && r.getAs[Long]("cluster") < 4L))
    // vectors sharing a dominant axis must co-cluster after refinement
    val byAxis = out.groupBy(r => r.getAs[Long]("vec_id") % 4)
      .map { case (_, rs) => rs.map(_.getAs[Long]("cluster")).distinct.length }
    assert(byAxis.forall(_ == 1), "same-axis vectors split across clusters")
    // null and zero vectors are absent, never failing
    val withBad = vecs.unionByName(Seq(
      (100L, null.asInstanceOf[Array[Float]]),
      (101L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val out2 = SimSearch.kmeansAssign(withBad, "vec_id", "embedding", k = 4, nIters = 1)
    assert(out2.filter(col("vec_id") >= 100L).count() == 0L)
    assert(out2.count() == 40L)
  }
}
