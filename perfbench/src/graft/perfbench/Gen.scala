package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators: every workload's inputs are a pure function of
  * the seed and the scale, so two runs with one seed see identical files. */
object Gen {

  // 64 × 64 pools → 4,096 distinct "First Last" keys. Every name has at least
  // three lowercase letters after its capital, so every key has trigrams.
  val First: Array[String] = Array(
    "Aaron", "Abigail", "Adrian", "Alice", "Amelia", "Andrew", "Angela", "Arthur",
    "Barbara", "Benjamin", "Bernard", "Bianca", "Brandon", "Brenda", "Calvin", "Camila",
    "Carlos", "Caroline", "Cecilia", "Charles", "Claire", "Daniel", "Deborah", "Dennis",
    "Diana", "Dominic", "Dorothy", "Edward", "Elaine", "Elena", "Emily", "Eugene",
    "Fiona", "Francis", "Gabriel", "Gordon", "Grace", "Harold", "Helen", "Henry",
    "Irene", "Isaac", "Jacob", "Janet", "Joseph", "Julia", "Kenneth", "Laura",
    "Leonard", "Lillian", "Marcus", "Martha", "Nathan", "Nicole", "Oliver", "Pamela",
    "Patrick", "Rachel", "Samuel", "Sharon", "Teresa", "Thomas", "Victor", "Walter")

  val Last: Array[String] = Array(
    "Abbott", "Acosta", "Barker", "Bennett", "Bishop", "Bowman", "Bradley", "Carlson",
    "Carter", "Chandler", "Coleman", "Collins", "Cooper", "Dalton", "Dawson", "Dixon",
    "Duncan", "Elliott", "Fischer", "Fleming", "Fowler", "Garrison", "Gibson", "Graham",
    "Hansen", "Harmon", "Hudson", "Jenkins", "Keller", "Lambert", "Larson", "Lawrence",
    "Lindsey", "Logan", "Manning", "Marshall", "Mendoza", "Mercer", "Morgan", "Norris",
    "Oliver", "Osborne", "Palmer", "Parsons", "Pearson", "Porter", "Quinn", "Ramsey",
    "Reynolds", "Russell", "Sanders", "Sawyer", "Sheldon", "Simmons", "Stanley", "Sutton",
    "Thornton", "Turner", "Vaughn", "Wallace", "Warren", "Webster", "Whitney", "Wilson")

  /** `n` "First Last" names drawn uniformly from the 64 × 64 pools. */
  def pooledNames(n: Int, rnd: SplittableRandom): Array[String] =
    Array.fill(n)(s"${First(rnd.nextInt(First.length))} ${Last(rnd.nextInt(Last.length))}")

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "w", "z", "br", "ch", "st", "tr")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou")

  private def namePart(rnd: SplittableRandom): String = {
    val sb = new StringBuilder
    (0 until 2 + rnd.nextInt(2)).foreach { _ =>
      sb ++= Onsets(rnd.nextInt(Onsets.length)) ++= Vowels(rnd.nextInt(Vowels.length))
    }
    if (rnd.nextInt(3) == 0) sb ++= Onsets(rnd.nextInt(12))
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  /** `n` distinct synthetic three-part names ("Kovaru Tesi Brandou"). */
  def uniqueNames(n: Int, rnd: SplittableRandom): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += s"${namePart(rnd)} ${namePart(rnd)} ${namePart(rnd)}"
    seen.toArray
  }

  /** One or two keyboard-style typos (substitute, delete, swap) at lowercase letters. */
  def typo(s: String, rnd: SplittableRandom): String = {
    val sb = new StringBuilder(s)
    (0 until 1 + rnd.nextInt(2)).foreach { _ =>
      val lower = sb.indices.filter(i => sb.charAt(i).isLower)
      if (lower.nonEmpty) {
        val i = lower(rnd.nextInt(lower.size))
        rnd.nextInt(3) match {
          case 0 => sb.setCharAt(i, ('a' + rnd.nextInt(26)).toChar)
          case 1 => if (sb.length > 4) sb.deleteCharAt(i)
          case _ =>
            if (i + 1 < sb.length && sb.charAt(i + 1).isLower) {
              val c = sb.charAt(i); sb.setCharAt(i, sb.charAt(i + 1)); sb.setCharAt(i + 1, c)
            }
        }
      }
    }
    sb.toString
  }

  /** A corpus with planted near-duplicates and a shared boilerplate block.
    * `cluster(i)` is the index of the original a document was copied from
    * (its own index for originals); `copyEdit(i)` is the fraction of words
    * the copy edited (0 for originals). Ids are a seeded shuffle, so a copy
    * is as likely as its original to hold the smaller id. */
  final case class Corpus(
      ids: Array[Long], texts: Array[String], cluster: Array[Int],
      copyEdit: Array[Double], hasBoilerplate: Array[Boolean])

  def corpus(n: Int, copyShare: Double, boilerShare: Double, rnd: SplittableRandom): Corpus = {
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 5000)
        s += Array.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
      s.toArray
    }
    // Zipf(s = 1) over the vocabulary, sampled by inverse CDF.
    val cdf = {
      val w = Array.tabulate(vocab.length)(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
    }
    val boiler = Array.fill(30)(word())
    val nCopies = (n * copyShare).toInt
    val nOrig = n - nCopies
    val words = new Array[Array[String]](n)
    val cluster = new Array[Int](n)
    val edit = new Array[Double](n)
    val hasBoiler = new Array[Boolean](n)
    (0 until nOrig).foreach { i =>
      val body = Array.fill(80 + rnd.nextInt(201))(word())
      hasBoiler(i) = rnd.nextDouble() < boilerShare
      words(i) =
        if (!hasBoiler(i)) body
        else { val at = rnd.nextInt(body.length + 1); body.take(at) ++ boiler ++ body.drop(at) }
      cluster(i) = i
    }
    (nOrig until n).foreach { i =>
      val src = rnd.nextInt(nOrig)
      val w = words(src).clone()
      edit(i) = rnd.nextDouble() * 0.05
      (0 until math.round(edit(i) * w.length).toInt).foreach(_ => w(rnd.nextInt(w.length)) = word())
      words(i) = w
      cluster(i) = src
      hasBoiler(i) = hasBoiler(src)
    }
    // Fisher–Yates over positions → ids: position p holds document order(p).
    val order = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val ids = new Array[Long](n)
    order.zipWithIndex.foreach { case (doc, pos) => ids(doc) = pos.toLong }
    Corpus(ids, words.map(_.mkString(" ")), cluster, edit, hasBoiler)
  }
}
