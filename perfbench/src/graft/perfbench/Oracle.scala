package graft.perfbench

import scala.collection.mutable

/** Output checks written from the operator contracts, independent of graft's
  * tokenizers: a brute-force trigram-cosine top-n and a word-shingle Jaccard. */
object Oracle {

  /** Distinct character trigrams of `s` whose three chars are all in 'a'..'z',
    * as sorted codes. The contract graft's `Trigrams` documents; written
    * here as a plain substring scan so the check shares no code with it. */
  def trigrams(s: String): Array[Int] = {
    val out = mutable.SortedSet.empty[Int]
    if (s != null) for (i <- 0 to s.length - 3) {
      val w = s.substring(i, i + 3)
      if (w.forall(c => c >= 'a' && c <= 'z')) out += (w(0) << 16) | (w(1) << 8) | w(2)
    }
    out.toArray
  }

  /** |a ∩ b| of two sorted arrays. */
  def overlap(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** The score formula of the `l2` contract, evaluated the same way. */
  def cosine(dot: Int, nl: Int, nr: Int): Double =
    dot.toDouble / (math.sqrt(nl.toDouble) * math.sqrt(nr.toDouble))

  /** The right side grouped by distinct key: trigram set and ascending ids. */
  final class RightSide(ids: Array[Long], keys: Array[String]) {
    private val groups: Array[(Array[Int], Array[Long])] =
      ids.indices.groupBy(keys(_)).iterator.map { case (k, rows) =>
        (trigrams(k), rows.map(ids(_)).sorted.toArray)
      }.toArray
    /** Trigram → indexes of the distinct right keys holding it. */
    private val postings: Map[Int, Array[Int]] =
      groups.indices.flatMap(g => groups(g)._1.map(_ -> g)).groupBy(_._1)
        .map { case (t, gs) => t -> gs.map(_._2).toArray }
    def df(t: Int): Long = postings.get(t).fold(0L)(_.length.toLong)

    /** Exact top-n of one left key: (right id, sim) by sim desc, right id asc. */
    def topN(key: String, n: Int): Seq[(Long, Double)] = {
      val lt = trigrams(key)
      if (lt.isEmpty) Nil
      else groups.iterator
        .map { case (rt, rids) => (rt, rids, overlap(lt, rt)) }
        .filter(_._3 > 0)
        .flatMap { case (rt, rids, dot) => rids.map(id => (id, cosine(dot, lt.length, rt.length))) }
        .toSeq.sortBy { case (id, sim) => (-sim, id) }.take(n)
    }

    /** min(n, number of right rows sharing at least one trigram with `key`). */
    def candidates(key: String, n: Long): Long = {
      val hit = mutable.BitSet.empty
      var rows = 0L
      val ts = trigrams(key).iterator
      while (rows < n && ts.hasNext) {
        val gs = postings.getOrElse(ts.next(), Array.emptyIntArray).iterator
        while (rows < n && gs.hasNext) {
          val g = gs.next()
          if (hit.add(g)) rows += groups(g)._2.length
        }
      }
      math.min(n, rows)
    }
  }

  /** Compare one left row's rows from the operator with the exact top-n. */
  def sameTopN(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.sortBy { case (id, sim) => (-sim, id) }.zip(want).forall {
      case ((gi, gs), (wi, ws)) => gi == wi && math.abs(gs - ws) <= 1e-9
    }

  /** Σ over tokens of df_left(t) · df_right(t), df counted over distinct keys:
    * the rows a token equi-join of the scored keys produces before per-pair
    * aggregation (filter-then-verify accounting). */
  def candidatePairs(leftKeys: Iterable[String], right: RightSide): Long = {
    val dfL = mutable.HashMap.empty[Int, Long]
    leftKeys.toSet.foreach((k: String) => trigrams(k).foreach(t => dfL(t) = dfL.getOrElse(t, 0L) + 1L))
    dfL.iterator.map { case (t, n) => n * right.df(t) }.sum
  }

  /** Distinct 3-word shingles over lowercase letter runs. */
  def shingles(text: String): java.util.HashSet[String] = {
    val w = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty)
    val out = new java.util.HashSet[String]()
    for (i <- 0 until w.length - 2) out.add(w(i) + " " + w(i + 1) + " " + w(i + 2))
    out
  }

  def jaccard(a: java.util.Set[String], b: java.util.Set[String]): Double = {
    val inter = a.stream().filter(b.contains(_)).count()
    if (a.isEmpty && b.isEmpty) 1.0 else inter.toDouble / (a.size + b.size - inter)
  }
}
