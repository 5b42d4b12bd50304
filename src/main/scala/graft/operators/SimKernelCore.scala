package graft.operators

import graft.functions.Trigrams

/**
 * Engine-internal core of the broadcast similarity kernel, run by the
 * physical operator [[graft.plans.SimKernelExec]] (which both
 * [[SimKernel.keyedPairs]] and [[graft.plans.SimKernelPlan.keyedPairs]]
 * plan): the right-side inverted index in primitive-array form (the
 * broadcast payload) and the dense-accumulator scan.
 *
 * The index is grouped by trigram set: right rows with identical token-id
 * sets score identically against every left row, so they share ONE entry
 * (one accumulator slot, one posting per token) that lists their ids in
 * ascending order. On key-heavy data (repeated entity names) this shrinks
 * both the broadcast and the per-row scan from rows to distinct token sets.
 * The grouping starts on the executors ([[mergeGroups]] per right
 * partition), so what the driver collects also grows with distinct token
 * sets, not with right rows.
 */
private[graft] object SimKernelCore {

  /** Right-side inverted index in primitive form (broadcast payload).
    * Entry `e`'s right ids are `ids(idStart(e) until idStart(e + 1))`. */
  final case class RightIndex(
      nTokens: Array[Int],         // entry -> |tokens|
      idStart: Array[Int],         // entry -> offset of its ids (length nEntries + 1)
      ids: Array[Long],            // per entry, its right ids, ascending
      postings: Array[Array[Int]]) // token id -> entries (ascending)

  /** Right rows sharing one token-id set: how many there are, and the
    * smallest of their ids, ascending. */
  final case class Group(toks: Array[Int], rows: Long, ids: Array[Long])

  /** Hash key for a token-id set (`Trigrams.tokenIds` arrays are sorted and
    * distinct, so equal sets are equal arrays). */
  private final class TokenSet(val toks: Array[Int]) {
    override def hashCode: Int = java.util.Arrays.hashCode(toks)
    override def equals(o: Any): Boolean = o match {
      case t: TokenSet => java.util.Arrays.equals(toks, t.toks)
      case _ => false
    }
  }

  private final class GroupAcc(val toks: Array[Int]) {
    var rows = 0L
    var ids = new Array[Long](4)
    var n = 0
  }

  /** Merge groups with one token set: row counts add up and the merged
    * group keeps its `keepIds` smallest ids. With `keepIds = topN` nothing
    * is lost: a set's later ids tie with its first ones on every left row
    * and lose the tie-break to them, so they can never reach a top-n. */
  def mergeGroups(groups: Iterator[Group], keepIds: Int): Array[Group] = {
    val accOf = new java.util.HashMap[TokenSet, GroupAcc]()
    val accs = scala.collection.mutable.ArrayBuffer.empty[GroupAcc]
    groups.foreach { g =>
      val key = new TokenSet(g.toks)
      var a = accOf.get(key)
      if (a == null) { a = new GroupAcc(g.toks); accOf.put(key, a); accs += a }
      a.rows += g.rows
      if (a.n + g.ids.length > a.ids.length)
        a.ids = java.util.Arrays.copyOf(a.ids, math.max(2 * a.ids.length, a.n + g.ids.length))
      System.arraycopy(g.ids, 0, a.ids, a.n, g.ids.length)
      a.n += g.ids.length
      // trim once the buffer holds twice what is kept: amortized O(log) per id
      if (a.n - keepIds > keepIds) { java.util.Arrays.sort(a.ids, 0, a.n); a.n = keepIds }
    }
    accs.iterator.map { a =>
      java.util.Arrays.sort(a.ids, 0, a.n)
      Group(a.toks, a.rows, java.util.Arrays.copyOf(a.ids, math.min(a.n, keepIds)))
    }.toArray
  }

  /** Assemble the index from right (id, token-ids) rows, one entry per
    * distinct token set holding all of its ids. */
  def buildIndex(tokenized: Array[(Long, Array[Int])], maxTokenFrequency: Long): RightIndex =
    buildIndex(tokenized.map { case (id, toks) => Group(toks, 1L, Array(id)) }, maxTokenFrequency)

  /** Assemble the index from groups (several may share a token set, e.g.
    * one per right partition). Posting lists whose token occurs in more
    * than `maxTokenFrequency` right ROWS (when > 0) are dropped — the same
    * skew guard as the relational plans' posting cap (norms stay
    * full-length). */
  def buildIndex(groups: Array[Group], maxTokenFrequency: Long): RightIndex = {
    val entries = mergeGroups(groups.iterator, Int.MaxValue)
    val nEntries = entries.length
    val nTok = new Array[Int](nEntries)
    val idStart = new Array[Int](nEntries + 1)
    var e = 0
    while (e < nEntries) {
      nTok(e) = entries(e).toks.length
      idStart(e + 1) = idStart(e) + entries(e).ids.length
      e += 1
    }
    val ids = new Array[Long](idStart(nEntries))
    // postings point at entries; the cap counts the right rows behind them
    val tokRows = new Array[Long](Trigrams.VocabSize)
    val tokEntries = new Array[Int](Trigrams.VocabSize)
    e = 0
    while (e < nEntries) {
      val g = entries(e)
      System.arraycopy(g.ids, 0, ids, idStart(e), g.ids.length)
      g.toks.foreach { t => tokRows(t) += g.rows; tokEntries(t) += 1 }
      e += 1
    }
    val postings = new Array[Array[Int]](Trigrams.VocabSize)
    var t = 0
    while (t < postings.length) {
      if (tokEntries(t) > 0 && (maxTokenFrequency <= 0L || tokRows(t) <= maxTokenFrequency))
        postings(t) = new Array[Int](tokEntries(t))
      tokEntries(t) = 0 // reused as the fill cursor below
      t += 1
    }
    e = 0
    while (e < nEntries) {
      entries(e).toks.foreach { t =>
        val p = postings(t)
        if (p != null) { p(tokEntries(t)) = e; tokEntries(t) += 1 }
      }
      e += 1
    }
    RightIndex(nTok, idStart, ids, postings)
  }

  /**
   * Dense-accumulator scan over one partition's (leftId, tokens) stream:
   * per row, accumulate counts over the broadcast postings, score
   * `dot / (√nl·√nr)` (or raw count), emit top-n by (sim desc, right id asc).
   * The top-n is a bounded heap over primitive arrays whose root is the
   * worst kept candidate; an entry's ids are walked in ascending order only
   * while they still beat that root. The accumulator, touched list and heap
   * are allocated once per partition and reused across rows (the reference
   * kernel's per-thread buffer shape).
   */
  def scorePartition(
      rows: Iterator[(Long, Array[Int])], idx: RightIndex,
      topN: Int, l2: Boolean): Iterator[(Long, Long, Double)] = {
    val nEntries = idx.nTokens.length
    val acc = new Array[Int](nEntries)
    val touched = new Array[Int](nEntries)
    val cap = math.min(topN, idx.ids.length)
    val heapSim = new Array[Double](cap)
    val heapId = new Array[Long](cap)
    // (s1, i1) ranks below (s2, i2): lower sim, or equal sim and larger id
    @inline def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 < s2 || (s1 == s2 && i1 > i2)
    def siftDown(size: Int): Unit = {
      val s = heapSim(0); val id = heapId(0)
      var k = 0
      var done = false
      while (!done) {
        var c = 2 * k + 1
        if (c >= size) done = true
        else {
          if (c + 1 < size && worse(heapSim(c + 1), heapId(c + 1), heapSim(c), heapId(c))) c += 1
          if (worse(heapSim(c), heapId(c), s, id)) {
            heapSim(k) = heapSim(c); heapId(k) = heapId(c); k = c
          } else done = true
        }
      }
      heapSim(k) = s; heapId(k) = id
    }
    rows.flatMap { case (lid, toks) =>
      if (toks.isEmpty) Iterator.empty
      else {
        var nTouched = 0
        var ti = 0
        while (ti < toks.length) {
          val posting = idx.postings(toks(ti))
          if (posting != null) {
            var pi = 0
            while (pi < posting.length) {
              val d = posting(pi)
              if (acc(d) == 0) { touched(nTouched) = d; nTouched += 1 }
              acc(d) += 1
              pi += 1
            }
          }
          ti += 1
        }
        val nl = math.sqrt(toks.length.toDouble)
        var size = 0
        var ci = 0
        while (ci < nTouched) {
          val d = touched(ci)
          val sim =
            if (l2) acc(d).toDouble / (nl * math.sqrt(idx.nTokens(d).toDouble))
            else acc(d).toDouble
          acc(d) = 0 // reset for the next row
          var k = idx.idStart(d)
          val end = idx.idStart(d + 1)
          while (k < end) {
            val rid = idx.ids(k)
            if (size < cap) {
              // sift up: the new candidate rises past every better parent
              var j = size
              var p = (j - 1) / 2
              while (j > 0 && worse(sim, rid, heapSim(p), heapId(p))) {
                heapSim(j) = heapSim(p); heapId(j) = heapId(p); j = p; p = (j - 1) / 2
              }
              heapSim(j) = sim; heapId(j) = rid
              size += 1
              k += 1
            } else if (worse(heapSim(0), heapId(0), sim, rid)) {
              heapSim(0) = sim; heapId(0) = rid
              siftDown(size)
              k += 1
            } else k = end // this entry's later ids rank lower still
          }
          ci += 1
        }
        // pop worst-first into the back: best-first order
        val out = new Array[(Long, Long, Double)](size)
        while (size > 0) {
          size -= 1
          out(size) = (lid, heapId(0), heapSim(0))
          heapSim(0) = heapSim(size); heapId(0) = heapId(size)
          siftDown(size)
        }
        out.iterator
      }
    }
  }
}
