package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.functions.TextFunctions
import graft.operators.Dedup

/**
 * ScalaCheck property suite for the persisted MinHash-signature family: the
 * relational signature-slice banding must agree with the UDF band keys on
 * ARBITRARY documents (they are two implementations of the same contract —
 * [[Dedup.minHashLshPairs]] bands via the UDF, [[Dedup.nearDupFromSignatures]]
 * via array slices of the persisted signature), and the estimate must be
 * symmetric and self-consistent.
 */
object SigProps extends Properties("MinHashSig") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val wordGen: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "the", "quick", "brown", "fox")
  private val docGen: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
  private val docsGen: Gen[List[String]] =
    Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, docGen))

  private def df(docs: List[String]): DataFrame = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  property("signature-slice band keys equal the UDF band keys") =
    forAllNoShrink(docsGen) { docs =>
      val sigs = Dedup.minHashSignatures(df(docs), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      sigs.forall { case (id, sig) =>
        val shingles = TextFunctions.shingles3Array(docs(id.toInt))
        val udfKeys = TextFunctions.minHashBandKeys(shingles)
        val bandRows = TextFunctions.MinHashBandRows
        val sliceKeys = sig.grouped(bandRows).map(_.mkString(":")).toArray
        udfKeys.sameElements(sliceKeys)
      }
    }

  property("estimate is symmetric and ids are ordered") =
    forAllNoShrink(docsGen) { docs =>
      val sigs = Dedup.minHashSignatures(df(docs), "doc_id", "text")
      val out = Dedup.nearDupFromSignatures(sigs, "doc_id", "sig", 0.0)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      out.forall { case ((a, b), est) => a < b && est >= 0.0 && est <= 1.0 }
    }

  property("self-estimate of any signed doc is 1 (sanity of the estimator)") =
    forAllNoShrink(docsGen) { docs =>
      val base = df(docs)
      val sigs = Dedup.minHashSignatures(base, "doc_id", "text")
      // pair each doc with an offset copy of itself across "corpora"
      val s = spark; import s.implicits._
      val shifted = sigs.select((col("doc_id") + 1000L).as("doc_id"), col("sig"))
      val cross = Dedup.nearDupFromSignaturesBetween(
          sigs, "doc_id", "sig", shifted, "doc_id", "sig", 0.999)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val signedIds = sigs.select("doc_id").collect().map(_.getLong(0)).toSet
      // every doc matches its own copy with estimate exactly 1.0
      signedIds.forall(id => cross.exists { case (a, b, e) => a == id && b == id + 1000L && e == 1.0 })
    }
}
