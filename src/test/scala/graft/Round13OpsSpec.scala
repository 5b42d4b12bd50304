package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators._

/** Specs for the round-13 additions: Unicode NFC/NFKC canonicalization
  * (UnicodeNormExpr) and its compose-with-exact-dedup contract. */
class Round13OpsSpec extends AnyFunSuite with LocalSpark {

  // ---- UnicodeNormExpr ----------------------------------------------------

  private def normOne(form: String, s: String): String = {
    val sp = spark
    import sp.implicits._
    val c = if (form == "NFC") TextFunctions.nfcCol(col("t")) else TextFunctions.nfkcCol(col("t"))
    Seq(s).toDF("t").select(c.as("n")).collect().head.getString(0)
  }

  test("NFC composes decomposed accents and preserves compatibility forms") {
    // e + combining acute -> é (composition)
    assert(normOne("NFC", "é") == "é")
    // already-composed stays
    assert(normOne("NFC", "é") == "é")
    // NFC must NOT fold compatibility characters: ligature and full-width survive
    assert(normOne("NFC", "ﬁ") == "ﬁ")
    assert(normOne("NFC", "Ａ") == "Ａ")
    // ASCII fast path is the identity
    assert(normOne("NFC", "plain ascii 123") == "plain ascii 123")
  }

  test("NFKC folds the compatibility fixture map (DuckDB has no NFKC oracle — this IS the pin)") {
    // fixture map per UnicodeNormExpr's documented oracle strategy: each pair
    // is a published NFKC equivalence (UAX #15), spanning ligatures,
    // full-width forms, enclosed digits, and the composition NFC also does
    val fixtures = Seq(
      "ﬁ" -> "fi",       // LATIN SMALL LIGATURE FI
      "ﬀ" -> "ff",       // LATIN SMALL LIGATURE FF
      "Ａ" -> "A",        // FULLWIDTH LATIN CAPITAL LETTER A
      "ａｂ" -> "ab", // fullwidth a, b
      "①" -> "1",        // CIRCLED DIGIT ONE
      "½" -> "1⁄2", // VULGAR FRACTION ONE HALF -> 1⁄2 (fraction slash)
      "é" -> "é",  // NFKC includes canonical composition
      "Å" -> "Å")   // ANGSTROM SIGN -> Å
    fixtures.foreach { case (in, want) =>
      assert(normOne("NFKC", in) == want, s"NFKC(${in.map(_.toInt.toHexString)})")
    }
  }

  test("NFC-canonicalized exact dedup co-assigns composed and decomposed variants") {
    val s = spark
    import s.implicits._
    // same visible text, three byte-level spellings NFC can reconcile (docs 1,
    // 2 compose identically; doc 3's ligature is NFC-invariant so it stays
    // distinct — exactly the NFC contract), plus an unrelated doc
    val df = Seq(
      (1L, "café fi nance"),       // composed é
      (2L, "café fi nance"),      // decomposed e + U+0301
      (3L, "café ﬁ nance"),   // ﬁ ligature — NFC keeps it
      (4L, "other doc")).toDF("doc_id", "text")
    val canon = Dedup.exact(
        df.select(col("doc_id"), TextFunctions.nfcCol(col("text")).as("text")),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(canon(1L) == 1L && canon(2L) == 1L, s"NFC variants must co-assign: $canon")
    assert(canon(3L) == 3L && canon(4L) == 4L, s"$canon")
    // under NFKC the ligature doc folds in too
    val canonK = Dedup.exact(
        df.select(col("doc_id"), TextFunctions.nfkcCol(col("text")).as("text")),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(Seq(1L, 2L, 3L).forall(canonK(_) == 1L), s"NFKC must fold the ligature: $canonK")
    assert(canonK(4L) == 4L)
  }

  // ---- unigram-LM trainer -------------------------------------------------

  test("ulm: segments reconstruct words, respect greedy longest-match, pieces account usage") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "banana bandana ban"),
      (2L, "banana banana cabana"),
      (3L, "nab nab den")).toDF("doc_id", "text")
    val segs = CorpusStats.ulmSegmentWords(docs, "text",
      maxPieceLen = 3, seedK = 6, pruneKs = Seq(4, 3)).collect()
    val pieces = CorpusStats.ulmPieces(docs, "text",
      maxPieceLen = 3, seedK = 6, pruneKs = Seq(4, 3))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val vocab = pieces.keySet
    // shrink schedule: at most 3 multi-char pieces survive
    assert(vocab.count(_.length > 1) <= 3, s"vocab=$vocab")
    // coverage: every single char of the corpus is in the vocabulary
    assert(Set("b", "a", "n", "d", "c", "e").subsetOf(vocab), s"vocab=$vocab")
    segs.foreach { r =>
      val (word, seg) = (r.getString(0), r.getString(3))
      val parts = seg.split(" ")
      assert(parts.mkString("") == word, s"seg must reconstruct: $word vs $seg")
      assert(r.getLong(2) == parts.length.toLong)
      assert(parts.forall(vocab.contains), s"seg uses non-vocab piece: $seg")
      // greedy longest-match: at each boundary the chosen piece is the
      // longest vocab piece starting there
      var pos = 0
      parts.foreach { p =>
        ((p.length + 1) to math.min(3, word.length - pos)).foreach { l =>
          assert(!vocab.contains(word.substring(pos, pos + l)),
            s"$word@$pos took $p but ${word.substring(pos, pos + l)} is in vocab")
        }
        pos += p.length
      }
    }
    // usage accounting: cnt(piece) = sum over words of n * uses-in-seg
    val wc = Map("banana" -> 3L, "bandana" -> 1L, "ban" -> 1L, "cabana" -> 1L,
      "nab" -> 2L, "den" -> 1L)
    val recount = segs.flatMap { r =>
      r.getString(3).split(" ").map(_ -> wc(r.getString(0)))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    pieces.foreach { case (p, c) =>
      assert(recount.getOrElse(p, 0L) == c, s"usage of $p: got $c want ${recount.get(p)}")
    }
  }

  test("ulm rejects a vocabulary larger than maxVocab") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "one two three four")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusStats.ulmPieces(docs, "text", maxVocab = 2).collect()
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  // ---- imageDHash ---------------------------------------------------------

  test("imageDHash decodes real PNG/BMP through javax.imageio, near-dup fixture pairs land at Hamming <= 1") {
    val s = spark
    import s.implicits._
    // the fixtures ARE real codec files: ImageIO must recognize both formats
    val png = Multimodal.fixtureImageBytes(0L)
    val bmp = Multimodal.fixtureImageBytes(1L)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P', "even id must encode PNG")
    assert(bmp(0) == 'B' && bmp(1) == 'M', "odd id must encode BMP")
    val pimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val bimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    assert(pimg.getWidth == Multimodal.FixtureW && pimg.getHeight == Multimodal.FixtureH)
    assert(bimg.getWidth == Multimodal.FixtureW && bimg.getHeight == Multimodal.FixtureH)
    // lossless round-trip: decoded pixel equals the generating formula
    val rgb = pimg.getRGB(3, 5)
    assert(((rgb >> 16) & 0xff) == ((0L * 31 + 3 * 7 + 5 * 13) % 256).toInt, "PNG pixel")
    val rgbB = bimg.getRGB(3, 5)
    assert(((rgbB >> 16) & 0xff) == ((0L * 31 + 3 * 7 + 5 * 13) % 256).toInt, "BMP pixel")
    val df = (0L until 8L).toDF("id")
      .select(col("id"), Multimodal.fixtureImageUdf(col("id")).as("payload"))
    val hashes = Multimodal.imageDHash(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 8L by 2L).foreach { e =>
      val d = java.lang.Long.bitCount(hashes(e) ^ hashes(e + 1))
      assert(d <= 1, s"fixture pair ($e, ${e + 1}) Hamming $d")
    }
    // distinct bases should produce distinct hashes (sanity, not a contract)
    assert(hashes.values.toSet.size >= 4, s"$hashes")
  }

  test("imageDHash falls back to the byte-segment rule for non-image payloads") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "just some text payload"), (2L, "another document body"))
      .toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("payload"))
    val img = Multimodal.imageDHash(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = Multimodal.dHash(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(img == raw, s"fallback must equal the raw byte rule: $img vs $raw")
  }

  test("unicode_norm rejects non-string input and unknown forms at plan time") {
    val s = spark
    import s.implicits._
    val df = Seq(1L).toDF("x")
    val e1 = intercept[Exception] {
      df.select(org.apache.spark.sql.GraftBridge.column(
        graft.functions.UnicodeNormExpr(
          org.apache.spark.sql.GraftBridge.expression(col("x")), "NFC"))).collect()
    }
    assert(e1.getMessage.contains("string"), e1.getMessage)
    val e2 = intercept[Exception] {
      df.select(org.apache.spark.sql.GraftBridge.column(
        graft.functions.UnicodeNormExpr(
          org.apache.spark.sql.GraftBridge.expression(lit("a")), "NFD"))).collect()
    }
    assert(e2.getMessage.contains("NFC"), e2.getMessage)
  }
}
