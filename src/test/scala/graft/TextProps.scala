package graft

import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAll

import graft.functions.{TextFunctions, Trigrams}
import graft.operators.Embeddings

/**
 * ScalaCheck properties for the text/embedding pipeline functions — pure
 * Scala, no Spark session needed, so these run at full ScalaCheck volume.
 */
object TextProps extends Properties("TextFunctions") {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(200).withWorkers(1)

  private val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaLowerStr.map(_.take(8)), Gen.const(" "), Gen.const("\n"),
    Gen.numStr.map(_.take(4)), Gen.const("!"), Gen.const("The")))
    .map(_.mkString)

  private val sizeOverlapGen: Gen[(Int, Int)] = for {
    size <- Gen.choose(1, 12)
    overlap <- Gen.choose(0, size - 1)
  } yield (size, overlap)

  private def words(s: String): Vector[String] =
    "[a-z]+".r.findAllIn(s.toLowerCase(java.util.Locale.ROOT)).toVector

  property("chunkWords: chunks reconstruct the word sequence exactly") =
    forAll(textGen, sizeOverlapGen) { case (text, (size, overlap)) =>
      val ws = words(text)
      val chunks = TextFunctions.chunkWords(text, size, overlap).toVector
      if (ws.isEmpty) chunks.isEmpty
      else {
        val stride = size - overlap
        // stitching chunk i's words after dropping the overlap with chunk i-1
        // must reproduce the full word sequence with nothing lost or invented
        val stitched = chunks.zipWithIndex.flatMap { case (c, i) =>
          val cw = c.split(" ").toVector
          if (i == 0) cw else cw.drop(ws.length.min(i * stride + overlap) - i * stride)
        }
        stitched == ws &&
          chunks.forall(_.split(" ").length <= size) &&
          chunks.zipWithIndex.forall { case (c, i) => // chunk i starts at i*stride
            ws.slice(i * stride, i * stride + c.split(" ").length) == c.split(" ").toVector
          }
      }
    }

  property("chunkWords: every word position is covered by some chunk") =
    forAll(textGen, sizeOverlapGen) { case (text, (size, overlap)) =>
      val ws = words(text)
      val chunks = TextFunctions.chunkWords(text, size, overlap)
      val stride = size - overlap
      val covered = chunks.zipWithIndex.flatMap { case (c, i) =>
        val n = c.split(" ").length
        (i * stride) until (i * stride + n)
      }.toSet
      covered == ws.indices.toSet
    }

  private val vecGen: Gen[Seq[Float]] =
    Gen.listOf(Gen.chooseNum(-10.0f, 10.0f)).map(_.toSeq)

  property("quantizeInt8: q in [-127,127], dequantization error <= scale/2") =
    forAll(vecGen) { v =>
      val (scale, q) = Embeddings.quantizeInt8Vec(v)
      q.length == v.length &&
        q.forall(x => x >= -127 && x <= 127) &&
        v.zip(q).forall { case (x, qi) =>
          math.abs(x.toDouble - qi * scale) <= scale / 2 + 1e-9
        }
    }

  property("wordNGramHashes: docs sharing a 13-word phrase share a gram hash") =
    forAll(textGen, textGen) { (a, b) =>
      val phrase = (1 to 13).map(i => "shared" + ('a' + i % 26).toChar).mkString(" ")
      val h1 = TextFunctions.wordNGramHashes(a + " " + phrase + " " + b, 13).toSet
      val h2 = TextFunctions.wordNGramHashes(b + " " + phrase + " " + a, 13).toSet
      (h1 intersect h2).nonEmpty &&
        TextFunctions.wordNGramHashes("only five words right here", 13).isEmpty
    }

  property("winnowing: docs sharing a >= k+w-1 substring share a fingerprint") =
    forAll(textGen, textGen) { (a, b) =>
      val shared = "thequickbrownfoxjumps" // 21 chars >= 8+4-1
      val f1 = TextFunctions.winnowFingerprints(a + shared + b, 8, 4).toSet
      val f2 = TextFunctions.winnowFingerprints(b + shared + a, 8, 4).toSet
      // at least one window lies fully inside the shared run in both docs, so
      // its minimum hash is selected in both — the winnowing guarantee
      (f1 intersect f2).nonEmpty &&
        TextFunctions.winnowFingerprints("short", 8, 4).isEmpty
    }

  property("scoreDoc: quality in [0,1], langid from the fixed language set") =
    forAll(textGen) { text =>
      val (q, lang) = TextFunctions.scoreDoc(text)
      q >= 0.0 && q <= 1.0 + 1e-9 &&
        TextFunctions.StopwordLists.exists(_._1 == lang)
    }

  property("tHash: deterministic and order-sensitive within 8-char windows") =
    forAll(Gen.alphaLowerStr, Gen.alphaLowerStr) { (a, b) =>
      val win = a.take(8)
      TextFunctions.tHash(a) == TextFunctions.tHash(a) &&
        (win.toSet.size < 2 || win == win.reverse ||
          TextFunctions.tHash(win) != TextFunctions.tHash(win.reverse))
    }

  property("tHash: code-point iteration — supplementary-plane chars hash by " +
      "code point, matching the SQL mirror's substring/ascii semantics") =
    forAll(Gen.listOf(Gen.oneOf(
        Gen.choose(32, 0xD7FF),              // BMP (below surrogates)
        Gen.choose(0x10000, 0x10FFFF)))) { cps =>
      val s = new String(cps.toArray, 0, cps.length)
      // independent re-statement of the contract: 1-based code-point position
      val expected = cps.zipWithIndex.map { case (cp, i) =>
        cp.toLong * TextFunctions.HashWeights(i % 8)
      }.sum
      TextFunctions.tHash(s) == expected
    }

  property("tHash: BMP strings unchanged by the code-point loop (golden values)") =
    forAll(Gen.alphaNumStr) { k =>
      // for BMP input code units == code points: charAt-sum must still agree
      val charSum = k.zipWithIndex.map { case (c, i) =>
        c.toLong * TextFunctions.HashWeights(i % 8)
      }.sum
      TextFunctions.tHash(k) == charSum
    }

  property("Trigrams.tokenIdsBytes over UTF-8 bytes equals tokenIds over chars") =
    forAll(Gen.listOf(Gen.frequency(
        4 -> Gen.alphaLowerChar.map(_.toString),
        1 -> Gen.oneOf(Gen.alphaUpperChar, Gen.numChar, Gen.const(' ')).map(_.toString),
        1 -> Gen.choose(0x80, 0xD7FF).map(_.toChar.toString),             // BMP non-ASCII
        1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
        1 -> Gen.choose(0xD800, 0xDFFF).map(_.toChar.toString)))) { parts => // lone surrogates
      val s = parts.mkString
      // char-window reference: tokenIds itself runs the byte scan
      val overChars = s.sliding(3)
        .filter(w => w.length == 3 && w.forall(c => c >= 'a' && c <= 'z'))
        .map(w => (w(0) - 'a') * 676 + (w(1) - 'a') * 26 + (w(2) - 'a')).toSeq.distinct.sorted
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Trigrams.tokenIdsBytes(bytes).toSeq == overChars && Trigrams.tokenIds(s).toSeq == overChars
    }

  property("hash bucket stability: same key same bucket across invocations") =
    forAll(Gen.alphaNumStr) { k =>
      val h1 = ((TextFunctions.tHash(k) % 100) + 100) % 100
      val h2 = ((TextFunctions.tHash(k) % 100) + 100) % 100
      h1 == h2 && h1 >= 0 && h1 < 100
    }
}
