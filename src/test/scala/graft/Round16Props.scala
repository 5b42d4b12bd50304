package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

/**
 * ScalaCheck properties for the round-16 additions:
 *  - URL canonicalization is IDEMPOTENT on arbitrary URL-ish inputs —
 *    normalize(normalize(u)) == normalize(u), the defining property of a
 *    canonical form (a second pass over an already-deduped frontier must
 *    not move any key);
 *  - the splittable Avro read returns the same multiset for ANY split size
 *    (split boundaries are invisible — every block is read exactly once).
 */
object Round16Props extends Properties("Round16") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https", "HtTpS")
    www <- Gen.oneOf("", "www.", "WWW.")
    host <- Gen.oneOf("Example.com", "a.b.ORG", "x-y.net", "sub.www.host.io")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.oneOf("", "/", "/A/b", "/p/Q/", "//", "/x.y")
    query <- Gen.oneOf("", "?q=1", "?utm_source=x&ref=y")
    frag <- Gen.oneOf("", "#f", "#a/b?c")
    punct <- Gen.oneOf("", ").", ",", "]!?")
  } yield s"$scheme://$www$host$port$path$query$frag$punct"

  property("urlNormalizeCol is idempotent") = forAllNoShrink(Gen.listOfN(6, urlGen)) { urls =>
    val s = spark
    import s.implicits._
    import graft.functions.TextFunctions
    val once = urls.toDF("u")
      .select(TextFunctions.urlNormalizeCol(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val twice = once.toDF("u")
      .select(TextFunctions.urlNormalizeCol(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    twice == once
  }

  private val rowsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 300)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 1000000L)
      s <- Gen.oneOf(Gen.alphaNumStr.map(_.take(40)), Gen.const(""))
    } yield (id, s))
  } yield rows

  property("Avro split size is invisible: any maxSplitBytes reads the same multiset") =
    forAllNoShrink(rowsGen, Gen.oneOf(512L, 4096L, 1L << 20)) { (rows, splitBytes) =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("id", "t").coalesce(1)
      val dir = java.nio.file.Files.createTempDirectory("graft-avro-prop").toString + "/t"
      graft.sources.AvroTable.write(df, dir)
      def readAll(split: Long) =
        graft.sources.AvroTable.read(s, dir, df.schema, maxSplitBytes = split)
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toList
      readAll(splitBytes) == readAll(1L << 40)
    }
}
