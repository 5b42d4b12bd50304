package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/**
 * Character-trigram tokenization over the fixed 26^3 lowercase vocabulary.
 *
 * Semantics (reference: /root/reference/src/cossim.rs:14-60):
 *  - sliding 3-char windows over the raw string (case-sensitive: only 'a'..'z'
 *    survive; uppercase/digits/punct/space break windows);
 *  - a window is kept iff all three chars are in 'a'..'z';
 *  - token id = base-26 encoding (c0-'a')*676 + (c1-'a')*26 + (c2-'a'),
 *    which equals the reference's row-major a..z enumeration order
 *    (/root/reference/src/cossim.rs:17-20);
 *  - duplicate trigrams within a string count ONCE (set semantics,
 *    /root/reference/src/cossim.rs:49);
 *  - the reference's edge-padding (ngrams(3).pad()) only produces windows
 *    containing the pad symbol, which are never in the vocabulary, so plain
 *    interior windows are equivalent (verified by reference tests:
 *    "abc" has exactly 1 token).
 *
 * Deviation (documented): null input yields an empty token set (the reference
 * panics on null, /root/reference/src/cossim.rs:42).
 */
object Trigrams {

  /** Vocabulary size: 26^3 distinct lowercase trigrams. */
  val VocabSize: Int = 26 * 26 * 26

  /** Distinct token ids of `s`, ascending. Never null; empty for null/short input. */
  def tokenIds(s: String): Array[Int] =
    if (s == null) Array.emptyIntArray else tokenIdsBytes(s.getBytes(UTF_8))

  /**
   * [[tokenIds]] over raw UTF-8 bytes (no decode), the one tokenizer scan.
   * Equivalent to a scan over chars: only 'a'..'z' bytes can form a token,
   * and non-ASCII chars contribute only bytes ≥ 0x80 — see
   * [[TrigramTokensExpr]] scaladoc.
   */
  def tokenIdsBytes(b: Array[Byte]): Array[Int] = {
    if (b == null || b.length < 3) return Array.emptyIntArray
    val n = b.length
    // Bitset over the 17,576-token vocabulary: dedup without hashing.
    val seen = new java.util.BitSet(VocabSize)
    var count = 0
    var i = 0
    while (i <= n - 3) {
      val c0 = b(i); val c1 = b(i + 1); val c2 = b(i + 2)
      if (c0 >= 'a' && c0 <= 'z' && c1 >= 'a' && c1 <= 'z' && c2 >= 'a' && c2 <= 'z') {
        val id = (c0 - 'a') * 676 + (c1 - 'a') * 26 + (c2 - 'a')
        if (!seen.get(id)) { seen.set(id); count += 1 }
      }
      i += 1
    }
    if (count == 0) return Array.emptyIntArray
    val out = new Array[Int](count)
    var id = seen.nextSetBit(0)
    var j = 0
    while (id >= 0) {
      out(j) = id; j += 1
      id = seen.nextSetBit(id + 1)
    }
    out
  }

  /** Distinct trigram strings of `s` (same windows as [[tokenIds]]), ascending. */
  def tokenStrings(s: String): Array[String] =
    tokenIds(s).map { id =>
      val c0 = ('a' + id / 676).toChar
      val c1 = ('a' + (id / 26) % 26).toChar
      val c2 = ('a' + id % 26).toChar
      new String(Array(c0, c1, c2))
    }

  /** Registered name of [[tokensUdf]] — the key [[graft.plans.RewriteTrigramUdf]]
    * matches on to swap the boxed UDF for the codegen'd expression. */
  val TokensUdfName = "graft_trigram_tokens"

  /** UDF form: string -> array<int> of distinct token ids. Named so the
    * optimizer rule can recognize (and replace) it in any plan. */
  val tokensUdf: UserDefinedFunction = udf((s: String) => tokenIds(s)).withName(TokensUdfName)

  /** UDF form: string -> array<string> of distinct trigram strings (ascending). */
  val tokenStringsUdf: UserDefinedFunction = udf((s: String) => tokenStrings(s))

  /** Column helper: distinct trigram token ids of a string column.
    * Uses the codegen'd Catalyst expression ([[TrigramTokensExpr]]) — stays in
    * whole-stage codegen; [[tokensUdf]] remains as the boxed fallback. */
  def trigramTokens(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      TrigramTokensExpr(org.apache.spark.sql.GraftBridge.expression(c)))
}
