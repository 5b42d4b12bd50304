package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.SimSearch

/**
 * ScalaCheck property suite for the persisted ANN-index contracts: on
 * ARBITRARY float corpora (not just the curated fixtures), the
 * encode-once/search-later paths must be bit-identical to their fused
 * counterparts, and encoding must respect the eligibility contract —
 * the properties the pointwise parity specs pin only on one shape each.
 *   - pqEncode → pqSearchEncoded ≡ fused topKPq (same model)
 *   - ivfPqEncode → ivfPqSearchEncoded ≡ fused topKIvfPq (same params)
 *   - pqEncode drops exactly the null/zero-norm/wrong-dim rows
 *   - every broadcast-query operator returns only eligible, self-free,
 *     k-bounded pairs, and full-probe topKIvf is brute-force topK
 */
object PqProps extends Properties("PqIndex") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  // dim 4 corpora with occasional degenerate rows: nulls and zero vectors —
  // the eligibility edge cases. Lloyd refinement (nIters > 0) fails fast on
  // mixed dimensions, so properties that run it keep this uniform generator.
  private val elemGen: Gen[Float] = Gen.chooseNum(-2.0f, 2.0f)
  private val vecGen: Gen[Array[Float]] = Gen.frequency(
    (8, Gen.listOfN(4, elemGen).map(_.toArray)),
    (1, Gen.const(Array.fill(4)(0.0f))),
    (1, Gen.const(null.asInstanceOf[Array[Float]])))
  private val corpusGen: Gen[List[Array[Float]]] =
    Gen.choose(6, 24).flatMap(n => Gen.listOfN(n, vecGen))
  // ... plus wrong-dimension (dim 3) stragglers, for operators documented to
  // skip them. The first 4 rows stay dim 4: they are every seed prefix below,
  // and codebook training rejects seeds of mixed dimensions.
  private val strayGen: Gen[Array[Float]] =
    Gen.frequency((4, vecGen), (1, Gen.listOfN(3, elemGen).map(_.toArray)))
  private val mixedCorpusGen: Gen[List[Array[Float]]] = for {
    n <- Gen.choose(6, 24)
    head <- Gen.listOfN(4, vecGen)
    tail <- Gen.listOfN(n - 4, strayGen)
  } yield head ++ tail

  private def eligible(v: Array[Float]): Boolean = v != null && v.exists(_ != 0.0f)
  /** An eligible dim-4 vector among the first 4 rows: the id-ranked seed
    * rule filters AFTER its LIMIT, so training fails fast (documented)
    * without one. */
  private def seedable(vecs: List[Array[Float]]): Boolean =
    vecs.take(4).exists(v => eligible(v) && v.length == 4)
  private val partsGen: Gen[Int] = Gen.choose(1, 4)

  private def df(vecs: List[Array[Float]], parts: Int): DataFrame = {
    val s = spark; import s.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
      .repartition(math.max(1, parts)) // shrinker can step outside the Gen range
  }

  private def resultMap(out: DataFrame): Map[(Long, Long), Double] =
    out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  property("pqSearchEncoded over pqEncode equals fused topKPq") =
    forAllNoShrink(mixedCorpusGen, partsGen, Gen.choose(0, 1)) { (vecs, parts, nIters) =>
      val corpus = df(vecs, parts)
      !seedable(vecs) || {
        val q = corpus.filter(col("id") < 4)
        val model = SimSearch.pqTrainModel(corpus, "id", "vec",
          nSub = 2, ksub = 4, nIters = nIters)
        val enc = SimSearch.pqEncode(corpus, "id", "vec", model)
        val split = resultMap(SimSearch.pqSearchEncoded(enc, "id", "codes",
          q, "id", "vec", model, 3, excludeSelf = true))
        val fused = resultMap(SimSearch.topKPq(q, "id", "vec",
          corpus, "id", "vec", 3, nSub = 2, ksub = 4, nIters = nIters,
          excludeSelf = true))
        split == fused
      }
    }

  property("ivfPqSearchEncoded over ivfPqEncode equals fused topKIvfPq") =
    forAllNoShrink(corpusGen, partsGen) { (vecs, parts) =>
      val corpus = df(vecs, parts)
      // ivf seeds from the 2 smallest ids, pq from the 4 smallest (both
      // filter after the LIMIT) — guard the stricter prefix
      val hasEligible = vecs.take(2).exists(v =>
        v != null && v.length == 4 && v.exists(_ != 0.0f))
      !hasEligible || {
        val q = corpus.filter(col("id") < 4)
        val ivf = SimSearch.ivfTrainModel(corpus, "id", "vec", nList = 2, nIters = 1)
        val pq = SimSearch.pqTrainModel(corpus, "id", "vec", nSub = 2, ksub = 4, nIters = 1)
        val enc = SimSearch.ivfPqEncode(corpus, "id", "vec", ivf, pq)
        val split = resultMap(SimSearch.ivfPqSearchEncoded(enc, "id", "list", "codes",
          q, "id", "vec", ivf, pq, 3, nProbe = 2, excludeSelf = true))
        val fused = resultMap(SimSearch.topKIvfPq(q, "id", "vec",
          corpus, "id", "vec", 3, nList = 2, nProbe = 2, nIters = 1,
          nSub = 2, ksub = 4, pqIters = 1, excludeSelf = true))
        split == fused
      }
    }

  // strictly-positive coordinates: every vector (and therefore every codeword
  // mean and reconstruction) has nonzero norm, so PQ's zero-recon-norm drop
  // can't fire and a full-corpus shortlist makes rerank ≡ exact brute force
  private val posVecGen: Gen[Array[Float]] =
    Gen.listOfN(4, Gen.chooseNum(0.1f, 2.0f)).map(_.toArray)
  private val posCorpusGen: Gen[List[Array[Float]]] =
    Gen.choose(6, 24).flatMap(n => Gen.listOfN(n, posVecGen))

  property("topKPqRerank with full-corpus shortlist equals brute-force topK") =
    forAllNoShrink(posCorpusGen, partsGen, Gen.choose(0, 1)) { (vecs, parts, nIters) =>
      val corpus = df(vecs, parts)
      val q = corpus.filter(col("id") < 4)
      val rerank = resultMap(SimSearch.topKPqRerank(q, "id", "vec",
        corpus, "id", "vec", 3, shortlist = math.max(3, vecs.length),
        nSub = 2, ksub = 4, nIters = nIters, excludeSelf = true))
      val brute = resultMap(SimSearch.topK(q, "id", "vec",
        corpus, "id", "vec", 3, excludeSelf = true))
      rerank == brute
    }

  property("topKIvfPqRerank with full probe + full-corpus shortlist equals brute-force topK") =
    forAllNoShrink(posCorpusGen, partsGen, Gen.choose(0, 1)) { (vecs, parts, nIters) =>
      val corpus = df(vecs, parts)
      val q = corpus.filter(col("id") < 4)
      val rerank = resultMap(SimSearch.topKIvfPqRerank(q, "id", "vec",
        corpus, "id", "vec", 3, shortlist = math.max(3, vecs.length),
        nList = 4, nProbe = 4, nIters = nIters, nSub = 2, ksub = 4,
        excludeSelf = true))
      val brute = resultMap(SimSearch.topK(q, "id", "vec",
        corpus, "id", "vec", 3, excludeSelf = true))
      rerank == brute
    }

  property("rangeSearch with threshold -2 equals the full brute-force pair set") =
    forAllNoShrink(posCorpusGen, partsGen) { (vecs, parts) =>
      val corpus = df(vecs, parts)
      val q = corpus.filter(col("id") < 4)
      val range = SimSearch.rangeSearch(q, "id", "vec", corpus, "id", "vec",
          -2.0, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = resultMap(SimSearch.topK(q, "id", "vec",
          corpus, "id", "vec", vecs.length, excludeSelf = true))
        .map { case ((qid, nid), cos) => (qid, nid, cos) }.toSet
      range == brute
    }

  property("pqEncode keeps exactly the eligible rows") =
    forAllNoShrink(mixedCorpusGen, partsGen) { (vecs, parts) =>
      val corpus = df(vecs, parts)
      !seedable(vecs) || {
        val model = SimSearch.pqTrainModel(corpus, "id", "vec", nSub = 2, ksub = 4)
        val kept = SimSearch.pqEncode(corpus, "id", "vec", model)
          .select("id").collect().map(_.getLong(0)).toSet
        val expected = vecs.zipWithIndex.collect {
          case (v, i) if eligible(v) && v.length == 4 => i.toLong
        }.toSet
        kept == expected
      }
    }

  property("broadcast-query operators return eligible, self-free, k-bounded pairs") =
    forAllNoShrink(mixedCorpusGen, partsGen, Gen.choose(1, 4), Gen.oneOf(false, true)) {
      (vecs, parts, k, excludeSelf) =>
        // labels 0..2, every fourth row unlabeled (hardNegatives' null rule)
        val corpus = df(vecs, parts)
          .withColumn("label", when(col("id") % 4 =!= 3, col("id") % 3))
        // even ids: queries include degenerate and wrong-dimension rows too
        val q = corpus.filter(col("id") % 2 === 0)
        !seedable(vecs) || {
          val model = SimSearch.pqTrainModel(corpus, "id", "vec", nSub = 2, ksub = 4)
          val enc = SimSearch.pqEncode(corpus, "id", "vec", model)
          val ranked = Seq(
            SimSearch.topK(q, "id", "vec", corpus, "id", "vec", k, excludeSelf),
            SimSearch.hardNegatives(q, "id", "vec", "label", corpus, "id", "vec", "label",
              k, excludeSelf),
            SimSearch.topKLsh(q, "id", "vec", corpus, "id", "vec", k, nPlanes = 2,
              nTables = 2, excludeSelf = excludeSelf),
            SimSearch.topKIvf(q, "id", "vec", corpus, "id", "vec", k, nList = 4, nProbe = 2,
              excludeSelf = excludeSelf),
            SimSearch.topKPq(q, "id", "vec", corpus, "id", "vec", k, nSub = 2, ksub = 4,
              excludeSelf = excludeSelf),
            SimSearch.topKSq(q, "id", "vec", corpus, "id", "vec", k, excludeSelf),
            SimSearch.pqSearchEncoded(enc, "id", "codes", q, "id", "vec", model, k,
              excludeSelf))
          val range = SimSearch.rangeSearch(q, "id", "vec", corpus, "id", "vec", 0.0,
            excludeSelf)
          def pairs(out: DataFrame): Seq[(Long, Long)] =
            out.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
          def wellFormed(ps: Seq[(Long, Long)]): Boolean = ps.forall { case (a, b) =>
            val (va, vb) = (vecs(a.toInt), vecs(b.toInt))
            a % 2 == 0 && eligible(va) && eligible(vb) && va.length == vb.length &&
              !(excludeSelf && a == b)
          } && ps.distinct.length == ps.length
          val fullProbe = SimSearch.topKIvf(q, "id", "vec", corpus, "id", "vec", k,
            nList = 4, nProbe = 4, excludeSelf = excludeSelf)
          ranked.map(pairs).forall(ps =>
              wellFormed(ps) && ps.groupBy(_._1).values.forall(_.length <= k)) &&
            wellFormed(pairs(range)) &&
            resultMap(fullProbe) == resultMap(ranked.head)
        }
    }
}
