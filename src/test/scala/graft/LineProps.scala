package graft

import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.Dedup

/**
 * ScalaCheck property suite for the line dedup family — [[Dedup.paragraphDedup]],
 * [[Dedup.lineDedupWithinDoc]] and [[Dedup.lineRuleClean]] — against a
 * plain-Scala reference at 1 and 7 shuffle partitions. The reference splits
 * with `split("\n", -1)` (trailing empty lines kept, as Spark's `split`) and
 * hashes with `MessageDigest` md5. Generated corpora have blank lines,
 * trailing newlines, within-doc and cross-doc repeats and null texts.
 */
object LineProps extends Properties("LineDedup") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val lineGen: Gen[String] = Gen.oneOf(
    "", "", "alpha beta", "alpha beta gamma", "the cat sat down", "x", "nav home about",
    "Alpha BETA gamma", "one two", "3 4 5 6")
  private val textGen: Gen[Option[String]] = Gen.frequency(
    8 -> (for {
      n <- Gen.choose(0, 7)
      ls <- Gen.listOfN(n, lineGen)
      trailing <- Gen.oneOf(false, false, true)
    } yield Some(ls.mkString("\n") + (if (trailing) "\n" else ""))),
    1 -> Gen.const(None))
  private val docsGen: Gen[List[Option[String]]] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, textGen))

  private def df(docs: List[Option[String]]): DataFrame = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def atEachPartitioning(body: => Boolean): Boolean =
    Seq(1, 7).forall(p => withConf("spark.sql.shuffle.partitions" -> p.toString)(body))

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def lines(t: String): Array[String] = t.split("\n", -1)

  private def words(line: String): Int =
    "[a-z]+".r.findAllIn(line.toLowerCase(Locale.ROOT)).size

  /** Distinct docs holding each non-empty line. */
  private def lineDocs(docs: List[Option[String]]): Map[String, Int] =
    docs.flatMap(_.toSeq.flatMap(t => lines(t).filter(_.nonEmpty).distinct))
      .groupBy(identity).map { case (l, ls) => l -> ls.size }

  private def rows(out: DataFrame): Set[(Long, Long, Long, String)] =
    out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

  property("paragraphDedup, lineDedupWithinDoc and lineRuleClean equal the plain-Scala reference") =
    forAllNoShrink(docsGen, Gen.choose(2, 3), Gen.choose(0, 3), Gen.choose(1L, 3L)) {
      (docs, minDocs, minWords, maxLineDf) =>
        val nd = lineDocs(docs)
        val texts = docs.zipWithIndex.collect { case (Some(t), i) => (i.toLong, t) }
        val paragraph = texts.map { case (id, t) =>
          val ls = lines(t)
          val cut = ls.map(l => l.nonEmpty && nd(l) >= minDocs)
          (id, ls.length.toLong, cut.count(identity).toLong,
            md5(ls.zip(cut).collect { case (l, false) => l }.mkString("\n")))
        }.toSet
        val within = texts.map { case (id, t) =>
          val ls = lines(t)
          val cut = ls.indices.map(i => ls(i).nonEmpty && ls.indexOf(ls(i)) < i)
          (id, ls.length.toLong, cut.count(identity).toLong,
            md5(ls.zip(cut).collect { case (l, false) => l }.mkString("\n")))
        }.toSet
        val ruled = texts.flatMap { case (id, t) =>
          val ls = lines(t).filter(_.nonEmpty)
          val kept = ls.filter(l => words(l) >= minWords && nd(l) < maxLineDf)
          if (ls.isEmpty) None
          else Some((id, ls.length.toLong, kept.length.toLong, md5(kept.mkString("\n"))))
        }.toSet
        atEachPartitioning {
          rows(Dedup.paragraphDedup(df(docs), "doc_id", "text", minDocs = minDocs)) == paragraph &&
            rows(Dedup.lineDedupWithinDoc(df(docs), "doc_id", "text")) == within &&
            rows(Dedup.lineRuleClean(df(docs), "doc_id", "text", minWords = minWords,
              maxLineDf = maxLineDf)) == ruled
        }
    }
}
