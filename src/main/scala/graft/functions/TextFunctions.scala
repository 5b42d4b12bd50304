package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for the LLM-data-pipeline surface: word
 * extraction, shingling, deterministic hashing (document fingerprints, MinHash /
 * SimHash token hashes), language-ID heuristic, quality scoring, token counting.
 *
 * Everything here is built from exact integer arithmetic or fixed-order double
 * arithmetic so each function has a 1:1 ANSI-SQL mirror (DuckDB oracle) — the
 * formulas are the spec. Native Catalyst expressions only (no Python UDFs); the
 * single Scala UDF ([[tHashUdf]]) implements the same integer recurrence as the
 * SQL mirror, so results are bit-identical.
 *
 * Reference scope note: the reference library has no text-analysis surface
 * beyond `normalize_string_col` (/root/reference/python/polars_sim/dataframe/
 * join.py:6-12); these operators extend it for large-scale training-data
 * pipelines per the build brief.
 */
object TextFunctions {

  /** Position weights of [[tHash]]: 31^(i mod 8), precomputed to stay in exact Long range. */
  val HashWeights: Array[Long] =
    Array(1L, 31L, 961L, 29791L, 923521L, 28629151L, 887503681L, 27512614111L)

  /**
   * Deterministic polynomial string hash: sum over CODE POINTS of
   * `codepoint(c_i) * 31^((i-1) mod 8)` (1-based i). Iterating by code point —
   * not UTF-16 code unit — matches the SQL mirror exactly on ALL input
   * (DuckDB's substring/length/ascii are code-point based), supplementary
   * plane included; for BMP text the two iterations coincide, so every
   * pre-existing golden value is unchanged. No modulus — bounded by
   * 255 · 31^7 · len, exact in Long for len ≤ ~10k ASCII chars (remaining
   * caveat: hundreds of KB of high-code-point text can overflow Long where
   * DuckDB's list_sum promotes to HUGEINT). Cycling the weight every 8
   * positions keeps products small while staying order-sensitive within an
   * 8-position window. SQL mirror: aggregate/transform lambda, see
   * SparkEntry oracle builders.
   */
  def tHash(s: String): Long = {
    if (s == null) return 0L
    var acc = 0L
    var i = 0  // UTF-16 index
    var p = 0  // code-point position (the SQL mirror's 1-based i, 0-based here)
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc += cp.toLong * HashWeights(p % 8)
      i += Character.charCount(cp)
      p += 1
    }
    acc
  }

  val tHashUdf = udf((s: String) => tHash(s))

  /** Lowercase alphabetic word runs of `c` — the shared word extractor. */
  def wordsCol(c: Column): Column = regexp_extract_all(lower(c), lit("[a-z]+"), lit(0))

  private val WordPattern = java.util.regex.Pattern.compile("[a-z]+")

  /** Single-pass Scala form of words + 3-word shingles + distinct — the hot-path
    * variant of [[shingles3]]([[wordsCol]]): identical output set, but the regex
    * extraction runs ONCE per row (the HOF-lambda form re-evaluates the words
    * subtree per element_at reference, which dominated the dedup benchmarks). */
  def shingles3Array(s: String): Array[String] = {
    if (s == null) return Array.empty
    val m = WordPattern.matcher(s.toLowerCase(java.util.Locale.ROOT))
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) words += m.group()
    if (words.length < 3) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= words.length - 3) {
      seen.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
      i += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out
  }

  val shinglesUdf = udf((s: String) => shingles3Array(s))

  /** MinHash signature of a distinct-shingle set: K mins of
    * `(a_j·(tHash(sh) mod P1) + b_j) mod P2` — same integers as [[minHashCol]]. */
  def minHashSig(shingles: Array[String]): Array[Long] = {
    val sig = Array.fill(MinHashK)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val th = tHash(shingles(i)) % MinHashP1
      var j = 0
      while (j < MinHashK) {
        val (a, b) = minHashParamsArr(j)
        val h = (a * th + b) % MinHashP2
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  private lazy val minHashParamsArr: Array[(Long, Long)] =
    (0 until MinHashK).map(minHashParams).toArray

  val minHashSigUdf = udf((shs: Seq[String]) => minHashSig(shs.toArray))

  /** LSH band keys of a distinct-shingle set: [[MinHashK]]/`bandRows`
    * strings, band b = ':'-joined [[minHashSig]] values j ∈ [b·r, b·r+r) in j
    * order. Computing the keys inside the signature pass (instead of exploding
    * 32 sig rows per doc and re-grouping them into bands) removes a whole
    * shuffle from the LSH candidate plan. `bandRows` is the recall/cost knob:
    * candidate probability at Jaccard j is 1-(1-j^r)^(K/r) — more rows per
    * band ⇒ fewer, higher-precision candidates (tune r up with the
    * threshold). */
  def minHashBandKeys(
      shingles: Array[String], bandRows: Int = MinHashBandRows): Array[String] = {
    requireBandRows(bandRows)
    val sig = minHashSig(shingles)
    val nBands = MinHashK / bandRows
    val out = new Array[String](nBands)
    var b = 0
    while (b < nBands) {
      val sb = new java.lang.StringBuilder()
      var j = b * bandRows
      val end = j + bandRows
      while (j < end) {
        if (j > b * bandRows) sb.append(':')
        sb.append(sig(j))
        j += 1
      }
      out(b) = sb.toString
      b += 1
    }
    out
  }

  val minHashBandKeysUdf = udf((shs: Seq[String]) => minHashBandKeys(shs.toArray))

  /** [[minHashBandKeysUdf]] at a non-default `bandRows` (see the band-key
    * scaladoc for the recall/cost trade). */
  def minHashBandKeysUdfFor(bandRows: Int) =
    udf((shs: Seq[String]) => minHashBandKeys(shs.toArray, bandRows))

  /** One 32-bit SimHash half over a distinct-shingle set — same integers as
    * [[simHashMixCol]] + the per-bit majority in Dedup.simHashFingerprints. */
  def simHashHalf(shingles: Array[String], mult: Long): Long = {
    val counts = new Array[Int](32)
    var i = 0
    while (i < shingles.length) {
      val g = (mult * (tHash(shingles(i)) % SimHashCompress)) % SimHashMod
      var b = 0
      while (b < 32) {
        if (((g >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) > 0) h |= (1L << b)
      b += 1
    }
    h
  }

  val simHash1Udf = udf((shs: Seq[String]) => simHashHalf(shs.toArray, SimHashMult1))
  val simHash2Udf = udf((shs: Seq[String]) => simHashHalf(shs.toArray, SimHashMult2))

  /** THE word-n-gram explode input: per start position of a words array, the
    * struct `(w1, …, wn)` of the n words from there; empty when the array has
    * fewer than n words (guarded: a negative `slice` length throws). The n
    * shifted slices are zipped, with no lambda: higher-order functions run
    * interpreted, a zip runs in generated code. */
  def wordGrams(ws: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = s"array<struct<${(1 to n).map(o => s"w$o:string").mkString(",")}>>"
    val k = size(ws) - (n - 1)
    when(size(ws) >= n, arrays_zip((1 to n).map(o => slice(ws, lit(o), k)): _*).cast(grams))
      .otherwise(array().cast(grams))
  }

  /** The space-joined string key of a [[wordGrams]] struct. */
  private[graft] def gramKey(g: Column, n: Int): Column =
    concat_ws(" ", (1 to n).map(o => g.getField(s"w$o")): _*)

  /** Distinct 3-word shingles of a words array (space-joined); empty when < 3 words. */
  def shingles3(ws: Column): Column =
    array_distinct(transform(wordGrams(ws, 3), gramKey(_, 3)))

  // ---------------------------------------------------------------------------
  // MinHash / SimHash parameters — inlined as literals in the oracle SQL too.
  // ---------------------------------------------------------------------------

  /** Number of MinHash hash functions; bands of [[MinHashBandRows]] rows each. */
  val MinHashK = 32
  val MinHashBandRows = 4
  val MinHashP1 = 1000003L      // token-hash compression modulus
  val MinHashP2 = 1000000007L   // permutation modulus

  /** THE `bandRows` check of every banding entry: rows per band must divide
    * [[MinHashK]]. Operators call it before their first job — inside the
    * band-key UDF a failure surfaces only at execution, wrapped in a
    * SparkException. */
  private[graft] def requireBandRows(bandRows: Int): Unit =
    require(bandRows > 0 && MinHashK % bandRows == 0,
      s"bandRows must divide MinHashK=$MinHashK, got $bandRows")

  /** (a_j, b_j) of the j-th MinHash permutation `(a·x + b) mod P2`, j in [0, K). */
  def minHashParams(j: Int): (Long, Long) =
    ((j.toLong * 2654435761L + 1L) % MinHashP2, (j.toLong * 2654446111L + 12345L) % MinHashP2)

  /** MinHash value j for a token-hash column: `(a_j·(th mod P1) + b_j) mod P2`. */
  def minHashCol(th: Column, j: Int): Column = {
    val (a, b) = minHashParams(j)
    (lit(a) * (th % lit(MinHashP1)) + lit(b)) % lit(MinHashP2)
  }

  /** SimHash 32-bit token mixes (two independent halves => 64-bit fingerprint). */
  val SimHashMult1 = 2654435761L
  val SimHashMult2 = 2246822519L
  val SimHashMod = 4294967296L // 2^32
  val SimHashCompress = 65521L

  /** 32-bit token mix for SimHash half `half` (1 or 2). */
  def simHashMixCol(th: Column, half: Int): Column = {
    val m = if (half == 1) SimHashMult1 else SimHashMult2
    (lit(m) * (th % lit(SimHashCompress))) % lit(SimHashMod)
  }

  // ---------------------------------------------------------------------------
  // Language-ID heuristic + quality scoring + token counts.
  // ---------------------------------------------------------------------------

  /** Per-language stopword lists for the language-ID heuristic (fixed spec). */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "uno", "como"),
    "zh" -> Seq("zhe", "shi", "bu", "wo", "ni"))

  /** Count of words of `ws` contained in `list`. */
  def stopwordCount(ws: Column, list: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(list)))

  /**
   * Language-ID heuristic: argmax of per-language stopword counts, ties broken
   * in [[StopwordLists]] order. A deliberately simple n-gram-free heuristic —
   * deterministic and SQL-mirrorable; on corpora with no language signal it
   * degrades to the first list that matches anything.
   */
  def langIdCol(ws: Column): Column = {
    val counts = StopwordLists.map { case (lang, list) => lang -> stopwordCount(ws, list) }
    // nested CASE: lang_i wins iff its count >= every later lang's count
    counts.zipWithIndex.init.foldRight(lit(counts.last._1)) { case (((lang, cnt), i), elseCol) =>
      val laterCounts = counts.drop(i + 1).map(_._2)
      when(laterCounts.map(c => cnt >= c).reduce(_ && _), lit(lang)).otherwise(elseCol)
    }
  }

  /**
   * Heuristic document quality score in [0,1]:
   * `0.4·alphaRatio + 0.4·min(3·stopRatio, 1) + 0.2·min(avgWordLen/8, 1)`,
   * where alphaRatio = alphabetic chars / chars, stopRatio = english stopwords /
   * words, avgWordLen = alphabetic chars / words. Rounded to 6 decimals; 0.0 for
   * empty docs. Each arithmetic step is written identically in the SQL oracle.
   */
  def qualityScoreCol(text: Column): Column = {
    val ws = wordsCol(text)
    val nChars = length(text).cast("double")
    val nWords = size(ws).cast("double")
    val alpha = length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    val stops = stopwordCount(ws, StopwordLists.head._2).cast("double")
    val score = lit(0.4) * (alpha / nChars) +
      lit(0.4) * least(lit(3.0) * (stops / nWords), lit(1.0)) +
      lit(0.2) * least((alpha / nWords) / lit(8.0), lit(1.0))
    when(length(text) === 0 || size(ws) === 0, lit(0.0)).otherwise(round(score, 6))
  }

  /**
   * Single-pass fused scorer: (quality, langid) in ONE traversal of the text —
   * the hot-path variant of [[qualityScoreCol]] + [[langIdCol]] for pipeline
   * compositions ([[graft.operators.CleanCorpus]]). The Column forms inline
   * their regex/HOF subtrees once per reference; combined with a pushed-down
   * filter on the computed columns the duplicated tree exceeds codegen limits
   * and falls back to interpreted eval with no subexpression reuse (measured
   * ~8× the fused cost). Formulas and double operation ORDER are identical to
   * the Column forms (same `0.4·a + 0.4·min(3s,1) + 0.2·min(w/8,1)` fold, same
   * HALF_UP round to 6, same first-lang-≥-all-later tie-break), so results are
   * bit-for-bit equal — pinned by a parity spec.
   */
  def scoreDoc(text: String): (Double, String) = {
    val nCharsI = if (text == null) 0 else text.length
    var alphaI = 0
    var i = 0
    while (i < nCharsI) {
      val c = text.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alphaI += 1
      i += 1
    }
    val m = WordPattern.matcher(if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
    var nWordsI = 0
    val langCounts = new Array[Int](StopwordLists.length)
    var stops = 0
    while (m.find()) {
      nWordsI += 1
      val w = m.group()
      var li = 0
      while (li < StopwordLists.length) {
        if (stopwordSets(li).contains(w)) langCounts(li) += 1
        li += 1
      }
    }
    stops = langCounts(0) // english list is the quality stop list
    val quality =
      if (nCharsI == 0 || nWordsI == 0) 0.0
      else {
        val nChars = nCharsI.toDouble; val nWords = nWordsI.toDouble
        val alpha = alphaI.toDouble
        val score = 0.4 * (alpha / nChars) +
          0.4 * math.min(3.0 * (stops.toDouble / nWords), 1.0) +
          0.2 * math.min((alpha / nWords) / 8.0, 1.0)
        BigDecimal(score).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    // first lang whose count >= every later lang's count (Column-form tie-break)
    var winner = StopwordLists.last._1
    var li = 0
    var found = false
    while (li < StopwordLists.length - 1 && !found) {
      var ok = true
      var lj = li + 1
      while (lj < StopwordLists.length) {
        if (langCounts(li) < langCounts(lj)) ok = false
        lj += 1
      }
      if (ok) { winner = StopwordLists(li)._1; found = true }
      li += 1
    }
    (quality, winner)
  }

  private lazy val stopwordSets: Array[java.util.HashSet[String]] =
    StopwordLists.map { case (_, list) =>
      val s = new java.util.HashSet[String](); list.foreach(s.add); s
    }.toArray

  /** Null text → null struct, so `quality >= k` filters drop null-text rows
    * exactly like the Column forms do (null comparison → false). */
  val scoreDocUdf = udf((s: String) => if (s == null) None else Some(scoreDoc(s)))

  /**
   * Word-window document chunking — the standard LLM-pipeline pre-tokenization
   * split: lowercase-alpha words grouped into windows of `size` words with
   * `overlap` words shared between consecutive chunks (stride = size−overlap).
   * A trailing window that would contribute no NEW words beyond the overlap is
   * not emitted (`start + overlap < nWords` unless it is the first chunk).
   * Single pass per doc; chunk text = space-joined words. SQL mirror:
   * generate_series over starts + list_slice.
   */
  def chunkWords(s: String, size: Int, overlap: Int): Array[String] = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    if (s == null) return Array.empty
    val m = WordPattern.matcher(s.toLowerCase(java.util.Locale.ROOT))
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) words += m.group()
    val n = words.length
    if (n == 0) return Array.empty
    val stride = size - overlap
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < n && (start == 0 || start + overlap < n)) {
      out += words.slice(start, math.min(start + size, n)).mkString(" ")
      start += stride
    }
    out.toArray
  }

  def chunkWordsUdf(size: Int, overlap: Int) =
    udf((s: String) => chunkWords(s, size, overlap))

  /** Distinct [[tHash]] values of the space-joined n-word grams of `s` — the
    * collision key for n-gram decontamination ([[graft.operators.Decontaminate]]).
    * Single pass; empty for docs with fewer than n words. */
  def wordNGramHashes(s: String, n: Int): Array[Long] = {
    require(n > 0, s"need positive n, got $n")
    if (s == null) return Array.emptyLongArray
    val m = WordPattern.matcher(s.toLowerCase(java.util.Locale.ROOT))
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) words += m.group()
    if (words.length < n) return Array.emptyLongArray
    val seen = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(i + k))
        k += 1
      }
      seen.add(tHash(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  def wordNGramHashUdf(n: Int) = udf((s: String) => wordNGramHashes(s, n))

  /**
   * ALL k-code-point-gram [[tHash]] values of `s` in position order
   * (position = array index + 1, matching SQL `substring(s, p, k)` 1-based
   * code-point positions) — the unsampled, position-keyed sibling of
   * [[winnowFingerprints]] for fingerprint-identity workflows that want the
   * winnow family's hash basis without its sampling. NOT the right identity
   * for span DEDUP: tHash's 8-cycle weights collide on word-salad text
   * (equal-length swaps 8 positions apart), and span semantics turn every
   * collision into deletable false "duplicate" text — the span operators key
   * grams by an (h1, h2) PAIR of independent splitmix64-weight sums instead
   * ([[graft.functions.KGramHashPairsExpr]]). Each element
   * equals `tHash(gram)` exactly (the weight cycle restarts per gram, so no
   * O(1) rolling update); cost O(len·k). Code-point windowing keeps
   * positions/content identical to DuckDB's `substring`/`length` on all
   * input. Shorter than k code points → empty.
   */
  def kGramHashes(s: String, k: Int): Array[Long] = {
    require(k > 0, s"need positive k, got $k")
    if (s == null) return Array.emptyLongArray
    val cps = s.codePoints().toArray
    if (cps.length < k) return Array.emptyLongArray
    val out = new Array[Long](cps.length - k + 1)
    var start = 0
    while (start <= cps.length - k) {
      var acc = 0L
      var j = 0
      while (j < k) { acc += cps(start + j).toLong * HashWeights(j % 8); j += 1 }
      out(start) = acc
      start += 1
    }
    out
  }

  def kGramHashesUdf(k: Int) = udf((s: String) => kGramHashes(s, k))

  /** Codegen'd native form of [[kGramHashesUdf]] ([[KGramHashesExpr]]) — same
    * semantics, no ScalaUDF boxing; the form the span-dedup operators use. */
  def kGramHashesCol(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      KGramHashesExpr(org.apache.spark.sql.GraftBridge.expression(c), k))


  /**
   * Winnowing fingerprints (the MOSS technique, Schleimer/Wilkerson/Aiken):
   * hash every k-char gram of the text ([[tHash]]), slide a window of `w`
   * consecutive gram hashes, keep each window's MINIMUM, return the distinct
   * minima ascending. Guarantees: any shared substring of length ≥ k+w−1
   * between two documents contributes at least one shared fingerprint, while
   * only ~1/w of grams are kept — the classic local-sampling dedup signature.
   * This variant selects by minimum value only (no rightmost-tie rule), which
   * keeps the selected SET exactly expressible as SQL window minima.
   * Documents shorter than k+w−1 chars have no full window → empty.
   * ASCII/BMP input contract as [[tHash]].
   */
  def winnowFingerprints(s: String, k: Int = 8, w: Int = 4): Array[Long] = {
    require(k > 0 && w > 0, s"need positive k and w, got k=$k w=$w")
    if (s == null || s.length < k + w - 1) return Array.emptyLongArray
    val nGrams = s.length - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      hashes(i) = tHash(s.substring(i, i + k))
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    var start = 0
    while (start <= nGrams - w) {
      var m = hashes(start)
      var j = start + 1
      while (j < start + w) {
        if (hashes(j) < m) m = hashes(j)
        j += 1
      }
      mins.add(m)
      start += 1
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  def winnowUdf(k: Int, w: Int) = udf((s: String) => winnowFingerprints(s, k, w))

  /** [[winnowFingerprints]] with SPAN LOCATIONS: each selected fingerprint
    * paired with the 1-BASED char position of its first k-gram occurrence in
    * the document — what MOSS-style match REPORTING needs (not just that two
    * docs share passages, but where). First occurrence (not the selecting
    * window's position) keeps the pair exactly SQL-expressible: `min(pos)
    * where gramHash = fingerprint`; same-hash grams are the same substring
    * under tHash's contract, so the span content is right either way. */
  def winnowFingerprintsPos(s: String, k: Int = 8, w: Int = 4): Array[(Long, Int)] = {
    require(k > 0 && w > 0, s"need positive k and w, got k=$k w=$w")
    if (s == null || s.length < k + w - 1) return Array.empty
    val nGrams = s.length - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      hashes(i) = tHash(s.substring(i, i + k))
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    var start = 0
    while (start <= nGrams - w) {
      var m = hashes(start)
      var j = start + 1
      while (j < start + w) {
        if (hashes(j) < m) m = hashes(j)
        j += 1
      }
      mins.add(m)
      start += 1
    }
    val firstPos = new java.util.HashMap[java.lang.Long, Integer]()
    i = 0
    while (i < nGrams) {
      if (mins.contains(hashes(i)) && !firstPos.containsKey(hashes(i)))
        firstPos.put(hashes(i), i + 1) // 1-based, mirrors SQL generate_series
      i += 1
    }
    val out = new Array[(Long, Int)](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { val v = it.next(); out(o) = (v, firstPos.get(v)); o += 1 }
    out
  }

  def winnowPosUdf(k: Int, w: Int) =
    udf((s: String) => winnowFingerprintsPos(s, k, w))

  // ---------------------------------------------------------------------------
  // Corpus-scrubbing signals: PII redaction + repetition ratio.
  // Patterns are deliberately restricted to syntax shared by Java regex and
  // RE2 (DuckDB) so the SQL oracle is the same pattern string.
  // ---------------------------------------------------------------------------

  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}"

  /** Occurrence count of `pattern` in `text` — the detection/audit face of
    * [[redactPiiCol]] (count-before-scrub: a release audit needs HOW MUCH
    * PII each source carries, not just the scrubbed text). Same pattern
    * strings on both engines (`regexp_extract_all` + length). */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Redact URLs, then emails, then phone-shaped numbers (fixed order — the
    * SQL mirror chains the same three regexp_replace calls). */
  def redactPiiCol(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Case-insensitive [[UrlPattern]] for extraction (schemes arrive in any
    * case in crawled text). */
  val UrlExtractPattern = "(?i)https?://[^\\s]+"

  /** All URL occurrences in `text`, document order — pair with
    * [[urlNormalizeCol]] for the dedup-by-URL / domain-mixing reads. Same
    * pattern string on both engines (`regexp_extract_all`). */
  def extractUrlsCol(text: Column): Column =
    regexp_extract_all(text, lit(UrlExtractPattern), lit(0))

  /**
   * URL CANONICALIZATION — the normalize-before-dedup rule for crawl
   * frontiers and per-domain mixing: two spellings of the same resource
   * must collapse to one key BEFORE any URL-keyed groupBy/dedup, or domain
   * quotas and seen-lists silently fragment. Fixed rule order (each step a
   * plain regexp/string op whose syntax Java regex and RE2 share, so the
   * SQL oracle chains the SAME pattern strings):
   *
   *  1. trailing prose punctuation stripped (`).,;!?]` — extraction from
   *     running text drags it along);
   *  2. `#fragment` dropped (client-side only);
   *  3. `?query` dropped (canonical-resource stance: tracking params
   *     dominate crawl URLs; documented trade — pages genuinely keyed by
   *     query string collapse together);
   *  4. scheme + host lowercased (RFC 3986: both case-insensitive; the
   *     PATH keeps its case — it is case-sensitive);
   *  5. leading `www.` and explicit default ports (`:80`/`:443`) dropped
   *     from the host;
   *  6. trailing `/` runs dropped.
   *
   * Pure per-row codegen'd scalar — composes with [[extractUrlsCol]] +
   * `explode` into the (doc, url) relation without any shuffle.
   */
  def urlNormalizeCol(u: Column): Column = {
    val noPunct = regexp_replace(u, "[).,;!?\\]]+$", "")
    val noFrag = regexp_replace(noPunct, "#.*$", "")
    val noQuery = regexp_replace(noFrag, "\\?.*$", "")
    val scheme = lower(regexp_extract(noQuery, "(?i)^(https?)://", 1))
    val host = lower(regexp_extract(noQuery, "(?i)^https?://([^/]*)", 1))
    val hostNoWww = regexp_replace(host, "^www\\.", "")
    val hostNoPort = regexp_replace(hostNoWww, ":(80|443)$", "")
    val path = regexp_extract(noQuery, "(?i)^https?://[^/]*(.*)$", 1)
    val pathNoSlash = regexp_replace(path, "/+$", "")
    concat(scheme, lit("://"), hostNoPort, pathNoSlash)
  }

  /** C0/C1-ish control characters (tab/newline excluded — those are
    * whitespace and handled by the collapse step). */
  val ControlPattern = "[\\x00-\\x08\\x0e-\\x1f\\x7f]"

  /**
   * Text canonicalization — the normalize-before-hash pipeline stage:
   * control characters → space, whitespace runs collapsed to one space,
   * leading/trailing space trimmed. Run BEFORE md5/MinHash/shingling so
   * formatting-only variants (trailing newlines, tab-vs-space, CR/LF) dedup
   * as the same document. Fixed rule order — the SQL mirror chains the same
   * three regexp_replace/trim calls; both engines' `\s` classes agree
   * ([ \t\n\x0B\f\r]). Pure per-row codegen'd scalar, zero shuffles.
   */
  def normalizeTextCol(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, ControlPattern, " "), "\\s+", " "))

  /** Unicode NFC canonicalization ([[UnicodeNormExpr]]): composed/decomposed
    * equivalents (`é` vs `e`+U+0301) become one byte sequence, so the
    * hash-based dedup family sees them as one document. Run BEFORE
    * [[normalizeTextCol]]/md5/MinHash on non-ASCII corpora. */
  def nfcCol(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      UnicodeNormExpr(org.apache.spark.sql.GraftBridge.expression(text), "NFC"))

  /** Unicode NFKC: NFC plus compatibility folding (ligature `ﬁ` → `fi`,
    * full-width `Ａ` → `A`, `①` → `1`) — the aggressive normalize-before-hash
    * form CCNet-style pipelines use. No DuckDB mirror exists; pinned by the
    * unit fixture map (see [[UnicodeNormExpr]] oracle strategy). */
  def nfkcCol(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      UnicodeNormExpr(org.apache.spark.sql.GraftBridge.expression(text), "NFKC"))

  /**
   * Line-repetition ratio in [0,1]: 1 − distinctNonEmptyLines/nonEmptyLines
   * (0.0 for docs with no non-empty line) — the standard boilerplate/spam
   * signal for corpus filtering. Rounded to 6 decimals.
   */
  def repetitionRatioCol(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    val n = size(lines).cast("double")
    val d = size(array_distinct(lines)).cast("double")
    when(size(lines) === 0, lit(0.0))
      .otherwise(round(lit(1.0) - d / n, 6))
  }

  /** Whitespace token count (trim + split on runs of whitespace). */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish regex token count: letter runs | digit runs | single other non-space. */
  val RegexTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(RegexTokenPattern), lit(0))).cast("long")
}
