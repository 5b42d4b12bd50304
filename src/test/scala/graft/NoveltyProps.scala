package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.Dedup

/** Model properties for the shingle-attribution scores
  * ([[Dedup.noveltyScores]], [[Dedup.boilerplateScores]]): checked against a
  * brute-force in-memory reference over small generated corpora. */
object NoveltyProps extends Properties("NoveltyScores") with LocalSpark {

  private val wordGen: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
  private val docGen: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, docGen))

  private def shingles(text: String): Set[String] = {
    val ws = "[a-z]+".r.findAllIn(text.toLowerCase).toVector
    (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
  }

  private def df(docs: List[String]) = {
    val s = spark
    import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  property("noveltyScores equals the brute first-occurrence model") =
    forAllNoShrink(corpusGen) { docs =>
      val sh = docs.zipWithIndex.map { case (t, i) => i.toLong -> shingles(t) }
      val first = sh.flatMap { case (id, ss) => ss.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).min }
      val model = sh.filter(_._2.nonEmpty).map { case (id, ss) =>
        val novel = ss.count(s => first(s) == id)
        (id, (ss.size.toLong, novel.toLong,
          BigDecimal(novel.toDouble / ss.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
      val got = Dedup.noveltyScores(df(docs), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      got == model
    }

  property("boilerplateScores equals the brute doc-frequency model") =
    forAllNoShrink(corpusGen, Gen.choose(1L, 3L)) { (docs, minDocs) =>
      val sh = docs.zipWithIndex.map { case (t, i) => i.toLong -> shingles(t) }
      val freq = sh.flatMap { case (id, ss) => ss.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size.toLong }
      val model = sh.filter(_._2.nonEmpty).map { case (id, ss) =>
        val common = ss.count(s => freq(s) >= minDocs)
        (id, (ss.size.toLong, common.toLong,
          BigDecimal(common.toDouble / ss.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
      val got = Dedup.boilerplateScores(df(docs), "doc_id", "text", minDocs)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      got == model
    }
}
