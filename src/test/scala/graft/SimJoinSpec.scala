package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Trigrams
import graft.operators.{SimJoin, SimJoinOptions}

/**
 * Golden-value semantic contract, ported from the reference's tests
 * (/root/reference/tests/test_sim.py:7-53) and README example
 * (/root/reference/README.md:38-66). Each case runs under BOTH physical
 * strategies ("direct", "dedup") — they must agree exactly.
 */
class SimJoinSpec extends AnyFunSuite with LocalSpark {

  def strDf(name: String, vals: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    vals.toDF(name)
  }

  /** Collect (row, col, sim) rounded to 1e-6 as a set. */
  def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map { r =>
      (r.getLong(r.fieldIndex("row")), r.getLong(r.fieldIndex("col")),
       math.rint(r.getFloat(r.fieldIndex("sim")).toDouble * 1e6) / 1e6)
    }.toSet

  def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  val goldenOpts: SimJoinOptions =
    SimJoinOptions(on = Some("s"), topN = 1, normalization = "l2",
      addMapping = true, addSimilarity = true)

  val goldenCases: Seq[(Seq[String], Seq[String], Set[(Long, Long, Double)])] = Seq(
    (Seq("zzz"), Seq("zzz"), Set((0L, 0L, 1.0))),
    (Seq("aaa"), Seq("aaa"), Set((0L, 0L, 1.0))),
    (Seq("aaabb"), Seq("aaa"), Set((0L, 0L, round6(1 / math.sqrt(3))))),
    (Seq("aaa"), Seq("aaabb"), Set((0L, 0L, round6(1 / math.sqrt(3))))),
    (Seq("abc"), Seq("abcabc"), Set((0L, 0L, round6(1 / math.sqrt(3))))),
    (Seq("abc", "def"), Seq("abc", "aaa"), Set((0L, 0L, 1.0))),
    (Seq("abc", "def", "aaabxy"), Seq("abc", "aaa"),
      Set((0L, 0L, 1.0), (2L, 1L, round6(1 / math.sqrt(4))))),
  )

  for (strategy <- Seq("direct", "dedup")) {
    goldenCases.zipWithIndex.foreach { case ((l, r, expected), i) =>
      test(s"golden case ${i + 1} [$strategy]") {
        val got = SimJoin.simJoin(strDf("s", l), strDf("s", r),
          goldenOpts.copy(strategy = strategy))
        assert(got.columns.toSet == Set("s", "s_right", "sim", "row", "col"))
        assert(pairSet(got) == expected)
      }
    }
  }

  test("golden cases invariant under partition count (≙ reference threading configs)") {
    for (parts <- Seq(1, 2, 8); (l, r, expected) <- goldenCases) {
      val ldf = strDf("s", l).repartition(parts)
      val rdf = strDf("s", r).repartition(parts)
      // repartition scrambles row order, so positional ids shift; compare via keys
      val got = SimJoin.simJoin(ldf, rdf, goldenOpts.copy(addMapping = false))
        .collect()
        .map(r => (r.getString(r.fieldIndex("s")), r.getString(r.fieldIndex("s_right"))))
        .toSet
      val want = expected.map { case (ri, ci, _) => (l(ri.toInt), r(ci.toInt)) }
      assert(got == want, s"parts=$parts l=$l r=$r")
    }
  }

  test("README example end-to-end (/root/reference/README.md:38-66)") {
    val left = strDf("name", Seq("alice", "bob", "charlie", "david"))
    val right = strDf("name", Seq("ali", "alice in wonderland", "bobby", "tom"))
    for (strategy <- Seq("direct", "dedup")) {
      val got = SimJoin.simJoin(left, right,
        SimJoinOptions(on = Some("name"), topN = 4, strategy = strategy))
      assert(got.columns.toSet == Set("name", "sim", "name_right"))
      val rows = got.collect()
        .map(r => (r.getString(r.fieldIndex("name")),
                   round6(r.getFloat(r.fieldIndex("sim")).toDouble),
                   r.getString(r.fieldIndex("name_right")))).toSet
      assert(rows == Set(
        ("alice", round6(1 / math.sqrt(3)), "ali"),
        ("alice", round6(3 / math.sqrt(3 * 11.0)), "alice in wonderland"),
        ("bob", round6(1 / math.sqrt(3)), "bobby")))
    }
  }

  test("how=left keeps no-match left rows with null sim/right columns") {
    // reference README semantics: inner drops charlie & david; how="left" keeps
    // them with nulls and leaves matched rows identical to the inner result
    val left = strDf("name", Seq("alice", "bob", "charlie", "david"))
    val right = strDf("name", Seq("ali", "alice in wonderland", "bobby", "tom"))
    for (strategy <- Seq("direct", "dedup")) {
      val opts = SimJoinOptions(on = Some("name"), topN = 4, strategy = strategy)
      val inner = SimJoin.simJoin(left, right, opts).collect()
        .map(r => (r.getString(0), round6(r.getFloat(1).toDouble), r.getString(2))).toSet
      val l = SimJoin.simJoin(left, right, opts.copy(how = "left"))
      assert(l.columns.toSet == Set("name", "sim", "name_right"))
      val rows = l.collect()
      assert(rows.length == inner.size + 2) // charlie + david survive
      val matched = rows.filter(!_.isNullAt(1))
        .map(r => (r.getString(0), round6(r.getFloat(1).toDouble), r.getString(2))).toSet
      assert(matched == inner)
      val unmatched = rows.filter(_.isNullAt(1))
        .map(r => (r.getString(0), r.isNullAt(2))).toSet
      assert(unmatched == Set(("charlie", true), ("david", true)))
    }
  }

  test("tokenizer: set semantics, vocabulary filter, edge padding equivalence") {
    assert(Trigrams.tokenIds("abc").toSeq == Seq((0) * 676 + 1 * 26 + 2))
    assert(Trigrams.tokenIds("abcabc").length == 3) // abc,bca,cab — dups once
    assert(Trigrams.tokenIds("ab").isEmpty)
    assert(Trigrams.tokenIds("").isEmpty)
    assert(Trigrams.tokenIds(null).isEmpty)
    assert(Trigrams.tokenIds("ABC").isEmpty)       // case-sensitive vocabulary
    assert(Trigrams.tokenIds("a b c").isEmpty)     // spaces break windows
    assert(Trigrams.tokenIds("a1bcd").toSeq ==
      Seq(Trigrams.tokenIds("bcd").head))          // digit breaks window
    assert(Trigrams.tokenStrings("alice").toSet == Set("ali", "lic", "ice"))
    assert(Trigrams.tokenIds("zzz").toSeq == Seq(26 * 26 * 26 - 1))
  }

  test("keyedPairsTokens: trigram arrays reproduce the string form; int tokens work") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("small ring", "small rings", "blue bolt", "bolt blue small")
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    val viaString = SimJoin.keyedPairs(df, "id", "s", df, "id", "s",
        SimJoinOptions(topN = 2, strategy = "direct"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    val tokens = df.select(col("id"), graft.functions.Trigrams.tokensUdf(col("s")).as("toks"))
    val viaTokens = SimJoin.keyedPairsTokens(tokens, "id", "toks", tokens, "id", "toks",
        topN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    assert(viaTokens == viaString)
    // arbitrary token type (ints), set semantics: duplicates count once
    val intToks = Seq((1L, Seq(7, 7, 8)), (2L, Seq(7, 8, 9)), (3L, Seq(99)))
      .toDF("id", "toks")
    val got = SimJoin.keyedPairsTokens(intToks, "id", "toks", intToks, "id", "toks",
        topN = 3, normalization = "count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // |{7,8} ∩ {7,8,9}| = 2 both directions; singleton 99 matches only itself
    assert(got == Set((1L, 1L, 2.0), (1L, 2L, 2.0), (2L, 2L, 3.0), (2L, 1L, 2.0),
      (3L, 3L, 1.0)))
  }

  test("null and zero-token left/right rows are dropped") {
    val left = strDf("s", Seq("abc", null, "ab", "", "x1y"))
    val right = strDf("s", Seq("abc", null, "zz"))
    for (strategy <- Seq("direct", "dedup")) {
      val got = SimJoin.simJoin(left, right, goldenOpts.copy(strategy = strategy))
      assert(pairSet(got) == Set((0L, 0L, 1.0)))
    }
  }

  test("applyWordNormalization strips punct and lowercases into {col}_normalized") {
    val left = strDf("s", Seq("ABC", "a-b-c", "abc"))
    val right = strDf("s", Seq("abc"))
    val without = SimJoin.simJoin(left, right, goldenOpts)
    assert(pairSet(without) == Set((2L, 0L, 1.0)))
    val withNorm = SimJoin.simJoin(left, right,
      goldenOpts.copy(applyWordNormalization = true))
    assert(withNorm.columns.contains("s_normalized"))
    assert(pairSet(withNorm) == Set((0L, 0L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0)))
  }

  test("deterministic tie-break: (sim desc, col asc)") {
    val left = strDf("s", Seq("abc"))
    val right = strDf("s", Seq("abcx", "abcy"))
    for (strategy <- Seq("direct", "dedup")) {
      val got = SimJoin.simJoin(left, right, goldenOpts.copy(strategy = strategy))
      assert(pairSet(got) == Set((0L, 0L, round6(1 / math.sqrt(2)))))
    }
  }

  test("count normalization: integer overlap score") {
    val got = SimJoin.simJoin(strDf("s", Seq("abc")), strDf("s", Seq("abcabc")),
      goldenOpts.copy(normalization = "count"))
    assert(pairSet(got) == Set((0L, 0L, 1.0)))
    val got2 = SimJoin.simJoin(strDf("s", Seq("alice")), strDf("s", Seq("alice")),
      goldenOpts.copy(normalization = "count"))
    assert(pairSet(got2) == Set((0L, 0L, 3.0)))
  }

  test("flags matrix: addMapping × addSimilarity × suffix column sets") {
    val l = strDf("s", Seq("abc"))
    val r = strDf("s", Seq("abc"))
    def cols(o: SimJoinOptions): Set[String] = SimJoin.simJoin(l, r, o).columns.toSet
    val base = SimJoinOptions(on = Some("s"))
    assert(cols(base) == Set("s", "sim", "s_right"))
    assert(cols(base.copy(addSimilarity = false)) == Set("s", "s_right"))
    assert(cols(base.copy(addMapping = true)) == Set("s", "row", "col", "sim", "s_right"))
    assert(cols(base.copy(suffix = "_r")) == Set("s", "sim", "s_r"))
  }

  test("output size bound: |result| ≤ |left| · topN, and strategies agree on random data") {
    val rng = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "kappa")
    def rand(n: Int): Seq[String] =
      (0 until n).map(_ => Seq.fill(1 + rng.nextInt(3))(words(rng.nextInt(words.size))).mkString(" "))
    val l = strDf("s", rand(60))
    val r = strDf("s", rand(40))
    for (topN <- Seq(1, 3, 10); norm <- Seq("l2", "count")) {
      val o = goldenOpts.copy(topN = topN, normalization = norm)
      val a = pairSet(SimJoin.simJoin(l, r, o.copy(strategy = "direct")))
      val b = pairSet(SimJoin.simJoin(l, r, o.copy(strategy = "dedup")))
      assert(a == b, s"strategy mismatch topN=$topN norm=$norm")
      assert(a.size <= 60 * topN)
      assert(a.groupBy(_._1).values.forall(_.size <= topN))
      if (norm == "l2") assert(a.forall(p => p._3 > 0 && p._3 <= 1.0 + 1e-9))
    }
  }

  test("broadcastSide hints preserve results") {
    val l = strDf("s", Seq("alice", "bob", "carol"))
    val r = strDf("s", Seq("alice in wonderland", "bobby", "carolyn"))
    val base = pairSet(SimJoin.simJoin(l, r, goldenOpts.copy(topN = 2)))
    for (side <- Seq("left", "right"); strategy <- Seq("direct", "dedup")) {
      val got = pairSet(SimJoin.simJoin(l, r,
        goldenOpts.copy(topN = 2, broadcastSide = side, strategy = strategy)))
      assert(got == base, s"side=$side strategy=$strategy")
    }
  }

  test("trigramIndex + pairsFromIndex reproduce keyedPairs(direct) bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("ring", "bolt", "widget", "spring", "gear", "cog")
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill(3)(words(rnd.nextInt(words.size))).mkString(" ") + s" ${words(rnd.nextInt(words.size))}"))
    val df = rows.toDF("id", "s")
    for (norm <- Seq("l2", "count"); topN <- Seq(1, 3)) {
      val opts = SimJoinOptions(topN = topN, normalization = norm, strategy = "direct")
      val direct = SimJoin.keyedPairs(df, "id", "s", df, "id", "s", opts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
      val idx = SimJoin.trigramIndex(df, "id", "s")
      val fromIdx = SimJoin.pairsFromIndex(idx, idx, opts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
      assert(fromIdx == direct, s"norm=$norm topN=$topN")
    }
    // repeated-trigram keys: tf products must reproduce the occurrence join
    val rep = Seq((0L, "aaaaaa"), (1L, "aaa"), (2L, "aaaaaaaaa")).toDF("id", "s")
    val o = SimJoinOptions(topN = 3, normalization = "count", strategy = "direct")
    val a = SimJoin.keyedPairs(rep, "id", "s", rep, "id", "s", o)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    val b = SimJoin.pairsFromIndex(
        SimJoin.trigramIndex(rep, "id", "s"), SimJoin.trigramIndex(rep, "id", "s"), o)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    assert(a == b, s"$a vs $b")
  }
}
