package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.Dedup

/**
 * ScalaCheck property suite for chunk-level cross-doc dedup on ARBITRARY
 * small corpora (tiny word alphabet → aligned chunk collisions are common):
 *   - model equivalence: the operator's (clean_text, n_chunks, dup_chunks)
 *     match a brute-force in-memory model of the CCNet rule for every doc
 *   - keep-first: each duplicated chunk key survives exactly once corpus-wide
 *     — at the minimal (doc, index) occurrence — and every non-duplicated
 *     chunk is untouched
 *   - conservation: surviving chunks are a subsequence of the doc's chunks
 */
object ChunkDedupProps extends Properties("ChunkDedup") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val W = 3
  // 4-word vocabulary, 0..14 words per doc — many identical aligned chunks
  private val docGen: Gen[String] =
    Gen.choose(0, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))).map(_.mkString(" "))
  private val docsGen: Gen[List[String]] =
    Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))

  private def df(docs: List[String]): DataFrame = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** In-memory model: per doc, the list of W-word chunks in order. */
  private def chunksOf(text: String): List[String] =
    "[a-z]+".r.findAllIn(text.toLowerCase).toList
      .grouped(W).map(_.mkString(" ")).toList

  private def dupKeys(docs: List[String], minDocs: Int): Set[String] =
    docs.zipWithIndex
      .flatMap { case (t, i) => chunksOf(t).distinct.map(c => (c, i)) }
      .groupBy(_._1).collect { case (c, occ) if occ.size >= minDocs => c }.toSet

  property("CCNet mode matches the brute-force model per doc") =
    forAllNoShrink(docsGen) { docs =>
      val dup = dupKeys(docs, 2)
      val got = Dedup.chunkDedup(df(docs), "doc_id", "text", W, 2)
        .collect().map(r => r.getLong(0).toInt ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      docs.indices.forall { i =>
        val cs = chunksOf(docs(i))
        val want = (cs.filterNot(dup).mkString(" "), cs.length.toLong,
          cs.count(dup).toLong)
        got(i) == want
      }
    }

  property("keep-first leaves exactly one corpus-wide copy of each dup key") =
    forAllNoShrink(docsGen) { docs =>
      val dup = dupKeys(docs, 2)
      val got = Dedup.chunkDedup(df(docs), "doc_id", "text", W, 2, keepFirst = true)
        .collect().map(r => r.getLong(0).toInt -> r.getString(1)).toMap
      // model: first (doc, chunk-index) occurrence of a dup key survives
      val keeper: Map[String, (Int, Int)] = dup.map { c =>
        val hits = for {
          i <- docs.indices; (ch, ci) <- chunksOf(docs(i)).zipWithIndex
          if ch == c
        } yield (i, ci)
        c -> hits.min
      }.toMap
      docs.indices.forall { i =>
        val want = chunksOf(docs(i)).zipWithIndex.collect {
          case (c, ci) if !dup(c) || keeper(c) == ((i, ci)) => c
        }.mkString(" ")
        got(i) == want
      }
    }
}
