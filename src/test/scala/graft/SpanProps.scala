package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.operators.{Decontaminate, Dedup}

/**
 * ScalaCheck property suite for the exact-substring span-dedup family on
 * ARBITRARY small corpora (tiny alphabet → plenty of accidental repeats):
 *   - soundness: every k-gram inside a reported span occurs in ≥ 2 distinct
 *     docs (the Lee-et-al. duplication rule, checked brute-force)
 *   - maximality: the gram just left/right of a span does NOT qualify
 *   - conservation: removed_chars = len(text) − len(clean_text), and docs
 *     without spans pass through byte-identical
 *   - exactness against a brute-force span reference, at 1 and 7 shuffle
 *     partitions: the occurrence rule of `duplicateSpansAll` (within-doc
 *     repeats count), the distinct-doc rule above 2, bench membership for
 *     `contaminatedSpans` and its Bloom form
 *   - agreement between faces: `spanDuplicationStats` and
 *     `removeDuplicateSpans`, `winnowPairs` and `winnowSpans`
 *   - a bench with no k-gram: no contaminated span on either face, and
 *     `benchCoverage` reports 0
 */
object SpanProps extends Properties("SpanDedup") with LocalSpark {

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private val K = 6
  // tiny alphabet, docs of 0..40 chars — k-gram collisions are common
  private val docGen: Gen[String] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', ' '))).map(_.mkString)
  private val docsGen: Gen[List[String]] =
    Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))

  private def df(docs: List[String]): DataFrame = {
    val s = spark; import s.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Brute duplication rule: the k-gram at 1-based position p of doc id
    * occurs in ≥ 2 DISTINCT docs (within-doc repeats alone never qualify). */
  private def dupGram(docs: List[String], id: Int, p: Int): Boolean = {
    val g = docs(id).substring(p - 1, p - 1 + K)
    docs.count(_.contains(g)) >= 2
  }

  property("every gram inside a span is corpus-duplicated; flanking grams are not") =
    forAllNoShrink(docsGen) { docs =>
      val spans = Dedup.duplicateSpans(df(docs), "doc_id", "text", k = K)
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt))
      spans.forall { case (id, s0, e0) =>
        val inside = (s0 to (e0 - K + 1)).forall(p => dupGram(docs, id, p))
        val leftOk = s0 == 1 || !dupGram(docs, id, s0 - 1)
        val rightOk = e0 - K + 1 >= docs(id).length - K + 1 ||
          !dupGram(docs, id, e0 - K + 2)
        inside && leftOk && rightOk
      }
    }

  private def atEachPartitioning(body: => Boolean): Boolean =
    Seq(1, 7).forall(p => withConf("spark.sql.shuffle.partitions" -> p.toString)(body))

  private def gramAt(doc: String, p: Int): String = doc.substring(p - 1, p - 1 + K)

  /** Brute span reference: per doc, maximal runs of consecutive 1-based gram
    * positions satisfying `marked`, as (id, span_start, span_end, n_grams). */
  private def refSpans(docs: List[String])(marked: (Int, Int) => Boolean): Set[(Long, Long, Long, Long)] =
    docs.indices.flatMap { id =>
      val ps = (1 to docs(id).length - K + 1).filter(p => marked(id, p))
      ps.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.map { case (s0, e0) => (id.toLong, s0.toLong, (e0 + K - 1).toLong, (e0 - s0 + 1).toLong) }
    }.toSet

  private def occurrences(docs: List[String], g: String): Int =
    docs.map(d => (0 to d.length - K).count(q => d.regionMatches(q, g, 0, K))).sum

  private def spanSet(spans: DataFrame): Set[(Long, Long, Long, Long)] =
    spans.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  property("duplicateSpansAll equals the brute occurrence rule (within-doc repeats count)") =
    forAllNoShrink(docsGen) { docs =>
      val ref = refSpans(docs)((id, p) => occurrences(docs, gramAt(docs(id), p)) >= 2)
      atEachPartitioning(spanSet(Dedup.duplicateSpansAll(df(docs), "doc_id", "text", k = K)) == ref)
    }

  property("duplicateSpans at minDocs = 3 equals the brute distinct-doc rule") =
    forAllNoShrink(docsGen) { docs =>
      val ref = refSpans(docs) { (id, p) =>
        val g = gramAt(docs(id), p)
        docs.count(_.contains(g)) >= 3
      }
      atEachPartitioning(
        spanSet(Dedup.duplicateSpans(df(docs), "doc_id", "text", k = K, minDocs = 3)) == ref)
    }

  property("spanDuplicationStats.dup_chars equals removeDuplicateSpans.removed_chars per doc") =
    forAllNoShrink(docsGen) { docs =>
      atEachPartitioning {
        val stats = Dedup.spanDuplicationStats(df(docs), "doc_id", "text", k = K)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val removed = Dedup.removeDuplicateSpans(df(docs), "doc_id", "text", k = K)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        stats.keySet == removed.keySet && stats.forall { case (id, (total, dup)) =>
          total == docs(id.toInt).length && dup == removed(id)
        }
      }
    }

  property("contaminatedSpansBloom equals contaminatedSpans equals the brute bench rule; the cut conserves length") =
    forAllNoShrink(docsGen, docsGen) { (corpus, bench) =>
      val ref = refSpans(corpus)((id, p) => bench.exists(_.contains(gramAt(corpus(id), p))))
      atEachPartitioning {
        val exact = spanSet(Decontaminate.contaminatedSpans(df(corpus), "doc_id", "text",
          df(bench), "text", k = K))
        val bloom = spanSet(Decontaminate.contaminatedSpansBloom(df(corpus), "doc_id", "text",
          df(bench), "text", k = K))
        val cut = Decontaminate.removeContaminatedSpans(df(corpus), "doc_id", "text",
            df(bench), "text", k = K)
          .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
        exact == ref && bloom == ref && cut.size == corpus.length &&
          cut.forall { case (id, (clean, removed)) =>
            removed == corpus(id.toInt).length - clean.length
          }
      }
    }

  // a bench in which no doc has K code points: it has no gram at all
  private val gramlessBenchGen: Gen[List[String]] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.choose(0, K - 1)
      .flatMap(m => Gen.listOfN(m, Gen.oneOf('a', 'b', ' '))).map(_.mkString)))

  property("a bench without a k-gram marks no span, exact or Bloom-screened") =
    forAllNoShrink(docsGen, gramlessBenchGen) { (corpus, bench) =>
      atEachPartitioning {
        Decontaminate.contaminatedSpans(df(corpus), "doc_id", "text", df(bench), "text", k = K)
          .isEmpty &&
          Decontaminate.contaminatedSpansBloom(df(corpus), "doc_id", "text", df(bench), "text",
            k = K).isEmpty
      }
    }

  property("benchCoverage over a bench without a k-gram reports coverage 0") =
    forAllNoShrink(docsGen, gramlessBenchGen) { (corpus, bench) =>
      atEachPartitioning {
        val r = Decontaminate.benchCoverage(df(corpus), "text", df(bench), "text", K).collect()
        r.length == 1 && r(0).getLong(0) == 0L && r(0).getLong(1) == 0L && r(0).getLong(2) == 0L
      }
    }

  property("winnowPairs(minShared = 1) counts winnowSpans per pair, capped and uncapped") =
    forAllNoShrink(docsGen, Gen.oneOf(0L, 2L, 3L)) { (docs, cap) =>
      atEachPartitioning {
        val pairs = Dedup.winnowPairs(df(docs), "doc_id", "text", minShared = 1L, k = 5, w = 3,
            maxDocFrequency = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val spans = Dedup.winnowSpans(df(docs), "doc_id", "text", k = 5, w = 3,
            maxDocFrequency = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val counted = spans.groupBy(identity).map { case ((a, b), rs) => (a, b, rs.length.toLong) }.toSet
        pairs == counted && pairs.forall { case (a, b, _) => a < b }
      }
    }

  property("exactIncrement keeps exactly the novel min-id digest holders") =
    forAllNoShrink(docsGen, docsGen) { (seenDocs, batchDocs) =>
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      val seen = Dedup.exactDigests(df(seenDocs), "text")
      val out = Dedup.exactIncrement(df(batchDocs), "doc_id", "text", seen)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val seenHashes = seenDocs.map(md5hex).toSet
      val expected = batchDocs.zipWithIndex.map { case (t, i) =>
        val h = md5hex(t)
        val isMin = batchDocs.zipWithIndex
          .filter { case (u, _) => md5hex(u) == h }.map(_._2).min == i
        i.toLong -> (if (!seenHashes.contains(h) && isMin) 1L else 0L)
      }.toMap
      out == expected
    }

  property("removal conserves length and leaves span-free docs untouched") =
    forAllNoShrink(docsGen) { docs =>
      val spanned = Dedup.duplicateSpans(df(docs), "doc_id", "text", k = K)
        .collect().map(_.getLong(0)).toSet
      val out = Dedup.removeDuplicateSpans(df(docs), "doc_id", "text", k = K)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      out.size == docs.length && out.forall { case (id, (clean, removed)) =>
        val orig = docs(id.toInt)
        removed == orig.length - clean.length &&
          (spanned.contains(id) || (clean == orig && removed == 0L))
      }
    }

  property("hot-document skew: one body shared by many docs stays exact, O(copies) output") =
    forAllNoShrink(Gen.choose(50, 150)) { copies0 =>
      // Pathological repeated-passage corpus (the SkewBench shape, small):
      // every doc shares one long hot body wrapped in per-doc flanks. A
      // pair-join design would build copies^2 candidates on this input; the
      // gram-identity aggregate's output must stay O(copies): a BOUNDED span
      // count per doc (flank id digits share short affixes across docs, so
      // spans may extend past the body or split — but never proliferate),
      // full coverage of the hot body's interior, and a conservative cut
      // that always leaves the unique flank edges (the first/last gram of
      // each doc contains its unique id, so the outermost chars survive).
      val copies = math.max(50, math.min(150, copies0)) // shrinker strays outside Gen range
      val hot = "the quick brown fox jumps over the lazy dog again and again"
      val docs = (0 until copies).map(i => f"pre$i%03d $hot post$i%03d").toList
      val spans = Dedup.duplicateSpans(df(docs), "doc_id", "text", k = K)
        .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
      val perDoc = spans.groupBy(_._1)
      val clean = Dedup.removeDuplicateSpans(df(docs), "doc_id", "text", k = K)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val bodyStart = docs.head.indexOf(hot) + 1 // same offset in every doc (1-based)
      spans.length <= 3 * copies &&               // O(copies), bounded per doc
        perDoc.size == copies &&                  // every doc has >= 1 span
        (0 until copies).forall { id =>
          // the hot body interior is covered by the union of this doc's spans
          val covered = Array.fill(docs(id).length + 2)(false)
          perDoc(id.toLong).foreach { case (_, s0, e0) =>
            (s0 to e0).foreach(p => covered(p) = true)
          }
          (bodyStart until (bodyStart + hot.length)).forall(covered) &&
            { val (c, removed) = clean(id.toLong)
              removed == docs(id).length - c.length &&
                c.nonEmpty && c.head == 'p' && c.last == docs(id).last } // unique edges survive
        }
    }
}
