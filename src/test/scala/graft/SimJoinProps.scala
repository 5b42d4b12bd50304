package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAll

import graft.operators.{SimJoin, SimJoinOptions, SimKernel}

/**
 * ScalaCheck property suite (SURVEY §5): randomized strings + partitionings
 * asserting the similarity-join invariants that the hand-rolled matrix specs
 * pin only pointwise —
 *   - l2 sim ∈ (0, 1]; count sim ≥ 1 (integer dot of sets sharing ≥ 1 token)
 *   - result size ≤ |L|·topN and ≤ topN per left row
 *   - partitioning invariance (values can't depend on physical layout)
 *   - physical-strategy parity: direct ≡ dedup ≡ kernel ≡ auto, also on
 *     repeated keys, shared trigram sets, topN up to 12 and the token cap
 *   - symmetry: with no top-n truncation, pairs(L,R) is the mirror of pairs(R,L)
 */
object SimJoinProps extends Properties("SimJoin") {

  // Each trial runs several Spark jobs on tiny frames — 10 successful trials
  // per property keeps the suite seconds-scale while still randomizing.
  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("simjoin-props")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val wordGen: Gen[String] = Gen.oneOf(
    "small", "ring", "cold", "widget", "blue", "bolt", "plate", "ringed",
    "xy", "aaa", "zzzz", "")
  private val nameGen: Gen[String] =
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
  private val namesGen: Gen[List[String]] =
    Gen.choose(2, 20).flatMap(n => Gen.listOfN(n, nameGen))
  // few distinct keys, each often repeated past topN; "x" and "x x" are
  // different strings with one trigram set
  private val pooledGen: Gen[List[String]] = for {
    bases <- Gen.listOfN(3, nameGen)
    pool = bases ++ bases.map(b => s"$b $b")
    n <- Gen.choose(2, 40)
    names <- Gen.listOfN(n, Gen.oneOf(pool))
  } yield names
  private val partsGen: Gen[Int] = Gen.choose(1, 5)
  private val topNGen: Gen[Int] = Gen.choose(1, 6)

  private def df(names: List[String], parts: Int): DataFrame = {
    val s = spark; import s.implicits._
    names.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
      .repartition(parts)
  }

  private def run(l: DataFrame, r: DataFrame, opts: SimJoinOptions): Set[(Long, Long, Double)] =
    SimJoin.keyedPairs(l, "id", "s", r, "id", "s", opts).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet

  property("l2 sim in (0,1]; count sim >= 1") =
    forAll(namesGen, namesGen, topNGen) { (ls, rs, topN) =>
      val (l, r) = (df(ls, 2), df(rs, 2))
      val l2 = run(l, r, SimJoinOptions(topN = topN, strategy = "direct"))
      val cnt = run(l, r, SimJoinOptions(topN = topN, normalization = "count", strategy = "direct"))
      l2.forall { case (_, _, s) => s > 0.0 && s <= 1.0 + 1e-12 } &&
        cnt.forall { case (_, _, s) => s >= 1.0 }
    }

  property("result size <= |L|*topN and <= topN per left row") =
    forAll(namesGen, namesGen, topNGen) { (ls, rs, topN) =>
      val got = run(df(ls, 3), df(rs, 2), SimJoinOptions(topN = topN, strategy = "direct"))
      got.size <= ls.size * topN &&
        got.groupBy(_._1).values.forall(_.size <= topN)
    }

  property("results are invariant under input partitioning") =
    forAll(namesGen, namesGen, partsGen, partsGen, topNGen) { (ls, rs, p1, p2, topN) =>
      val opts = SimJoinOptions(topN = topN, strategy = "direct")
      run(df(ls, p1), df(rs, p1), opts) == run(df(ls, p2), df(rs, p2), opts)
    }

  property("direct, dedup, and kernel strategies agree") =
    forAll(namesGen, namesGen, topNGen, Gen.oneOf("l2", "count")) { (ls, rs, topN, norm) =>
      val (l, r) = (df(ls, 2), df(rs, 3))
      val direct = run(l, r, SimJoinOptions(topN = topN, normalization = norm, strategy = "direct"))
      val dedup = run(l, r, SimJoinOptions(topN = topN, normalization = norm, strategy = "dedup"))
      val kernel = SimKernel.keyedPairs(l, "id", "s", r, "id", "s",
        SimJoinOptions(topN = topN, normalization = norm)).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      direct == dedup && direct == kernel
    }

  property("strategies agree on repeated keys, shared trigram sets, topN to 12, token cap") =
    forAll(Gen.oneOf(namesGen, pooledGen), pooledGen, Gen.choose(1, 12), Gen.oneOf("l2", "count"),
        Gen.oneOf(0L, 1L, 2L, 3L, 6L)) { (ls, rs, topN, norm, maxTf) =>
      val (l, r) = (df(ls, 2), df(rs, 3))
      val opts = SimJoinOptions(topN = topN, normalization = norm, maxTokenFrequency = maxTf)
      val direct = run(l, r, opts.copy(strategy = "direct"))
      direct == run(l, r, opts.copy(strategy = "dedup")) &&
        direct == run(l, r, opts.copy(strategy = "kernel")) &&
        direct == run(l, r, opts) // auto
    }

  property("pairs(L,R) with no truncation is the mirror of pairs(R,L)") =
    forAll(namesGen, namesGen) { (ls, rs) =>
      val noCut = math.max(ls.size, rs.size) + 1
      val fwd = run(df(ls, 2), df(rs, 2), SimJoinOptions(topN = noCut, strategy = "direct"))
      val bwd = run(df(rs, 2), df(ls, 2), SimJoinOptions(topN = noCut, strategy = "direct"))
      fwd.map { case (a, b, s) => (b, a, s) } == bwd
    }
}
