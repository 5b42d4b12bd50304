package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

/**
 * Round-17 properties: the scrub-at-the-door transform is IDEMPOTENT —
 * scrub(scrub(t)) == scrub(t) on arbitrary PII-bearing text. This is the
 * property that forced the normalize-FIRST order: redact-before-normalize
 * is not idempotent (a phone split across a newline matches only after
 * whitespace collapses, so a second pass would redact what the first
 * pass's normalize exposed).
 */
object Round17Props extends Properties("Round17") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(20).withWorkers(1)

  // fragments that stress every redaction class plus the whitespace/control
  // characters the normalize step folds — including PII SPLIT ACROSS
  // whitespace runs and control chars, the non-idempotence trigger
  private val fragGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.const("a@b.com"),
    Gen.const("user.name+x@host-1.example.org"),
    Gen.const("555-010-0042"),
    Gen.const("555\n010 0042"),
    Gen.const("+49 123-4567 8901"),
    Gen.const("https://x.org/p?q=1#f"),
    Gen.const("http://y.io/a@b.co"),
    Gen.const("\t"), Gen.const("\n\n"), Gen.const(""),
    Gen.const("   "), Gen.const("@"), Gen.const("://"), Gen.const("555-"))

  private val textGen: Gen[String] =
    Gen.listOf(fragGen).map(_.mkString(" ")).map(_.take(400))

  property("StreamScrub.scrubbedCol is idempotent on arbitrary PII-ish text") =
    forAllNoShrink(Gen.listOfN(8, textGen)) { texts =>
      val s = spark; import s.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val once = graft.streaming.StreamScrub.scrubbedCol(col("t"))
      val twice = graft.streaming.StreamScrub.scrubbedCol(once)
      df.select(col("id"), once.as("a"), twice.as("b"))
        .collect().forall(r => r.getString(1) == r.getString(2))
    }
}
