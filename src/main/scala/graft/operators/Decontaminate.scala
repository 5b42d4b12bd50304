package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.wordNGramHashUdf

/**
 * Benchmark decontamination by n-gram collision — the standard pre-training
 * hygiene step: flag corpus documents that share any n-word gram with a
 * benchmark/evaluation document (GPT-3-style 13-gram rule), so evaluation
 * data can be removed from the training mix.
 *
 * Plan shape: one gram-hash UDF pass per side, equi-join on the 64-bit gram
 * hash. The benchmark side is tiny by nature — its hash relation broadcasts —
 * so the corpus is scanned once and never shuffled on text. Exact on grams
 * (hash collisions of [[graft.functions.TextFunctions.tHash]] are the only
 * false-positive source, and flagging is the conservative direction for
 * decontamination).
 */
object Decontaminate {

  /**
   * @param n gram width in words (13 is the published convention)
   * @return (corpus idCol, bench_id) — one row per (contaminated doc,
   *         benchmark doc) collision pair, distinct
   */
  def flagged(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 13): DataFrame = {
    val ch = corpus.select(col(idCol).as("__cid"),
      explode(wordNGramHashUdf(n)(col(textCol))).as("__gh"))
    val bh = bench.select(col(benchIdCol).as("bench_id"),
      explode(wordNGramHashUdf(n)(col(benchTextCol))).as("__gh"))
    ch.join(broadcast(bh), "__gh")
      .select(col("__cid").as(idCol), col("bench_id"))
      .distinct()
  }

  /**
   * FUZZY decontamination: flag corpus documents whose 3-word-shingle Jaccard
   * similarity to ANY benchmark document is ≥ `threshold` — catches the
   * paraphrased/reformatted benchmark leaks the exact n-gram rule misses
   * (whitespace variants, partial copies, light edits).
   *
   * This is [[Dedup.minHashLshPairsBetween]] (corpus as side A, bench as side
   * B) with its outputs renamed: one checkpointed shingle pass per side,
   * MinHash band keys, candidates from the band-key equi-join, then exact
   * Jaccard verification of candidates only. The join carries no broadcast
   * hint; Spark's size-based planning broadcasts a small bench side on its
   * own. The corpus is never shuffled on text and never self-joined; false
   * negatives follow the usual banding bound ((1-j⁴)⁸ at Jaccard j — < 1e-7
   * for j ≥ 0.97). Verification is per row: a side that repeats an id gets
   * one row, with its own exact Jaccard, per (corpus row, bench row) pair.
   *
   * @return (corpus idCol, bench_id, jaccard) — verified contaminated pairs,
   *         jaccard rounded to 6 decimals. Note a corpus doc that IS a bench
   *         doc pairs with itself at jaccard 1.0 — filter on ids if the bench
   *         set is drawn from the corpus.
   */
  def fuzzyFlagged(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      threshold: Double,
      bandRows: Int = graft.functions.TextFunctions.MinHashBandRows): DataFrame =
    Dedup.minHashLshPairsBetween(corpus, idCol, textCol, bench, benchIdCol, benchTextCol,
        threshold, bandRows)
      .select(col("id_a").as(idCol), col("id_b").as("bench_id"), col("jaccard"))

  /**
   * BENCHMARK COVERAGE — the aggregate complement of span decontamination:
   * what fraction of the benchmark's distinct k-grams appear ANYWHERE in the
   * corpus (1.0-ish = the eval set is memorizable from training data; ~0 =
   * clean). One number per run, suitable for a release gate.
   *
   * Direction matters at scale: the corpus' gram relation is only ever
   * FILTERED by the broadcast bench-gram set — the distinct() runs on the
   * matched (bench-bounded) grams, never on the corpus' full gram space.
   * Same broadcast-size guard as [[contaminatedSpans]].
   *
   * @return one row: (n_bench, n_found, coverage_micro = found·10⁶ div bench)
   */
  def benchCoverage(
      corpus: DataFrame, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int = 20): DataFrame = {
    SizeGuard.requireFits(bench.select(col(benchTextCol)), "benchCoverage bench side",
      "pass the smaller frame as bench, or split the bench set into shards that fit and " +
        "report coverage per shard")
    val bh = bench.select(explode(Dedup.charGrams(col(benchTextCol), k)).as("__h"))
      .distinct().localCheckpoint() // consumed twice: the count and the join
    val nb = bh.agg(count(lit(1)).as("n_bench"))
    val nf = corpus.select(explode(Dedup.charGrams(col(textCol), k)).as("__h"))
      .join(broadcast(bh), "__h").distinct()
      .agg(count(lit(1)).as("n_found"))
    nb.crossJoin(nf)
      .select(col("n_bench"), col("n_found"),
        expr("n_found * 1000000L div n_bench").as("coverage_micro"))
  }

  /**
   * SPAN-LEVEL decontamination — surgical form of [[flagged]]: instead of
   * naming whole contaminated documents, report the exact char spans of the
   * corpus that appear in the benchmark set, as maximal runs of k-code-point
   * grams whose hashes occur anywhere in the benchmark text
   * ([[Dedup.duplicateSpans]]'s island machinery with the duplication rule
   * swapped for bench membership). Pair with
   * [[removeContaminatedSpans]] to cut the leaked passages while KEEPING the
   * rest of the document — dropping a whole 10k-word doc over one quoted
   * benchmark sentence wastes data the cut preserves.
   *
   * Plan shape: the benchmark gram-hash set is tiny by nature and
   * broadcasts; the corpus gram relation is probed in place (one scan, no
   * corpus shuffle before the doc-partitioned island window).
   *
   * @return (idCol, span_start, span_end, n_grams) — 1-based inclusive
   *         code-point positions in the corpus document.
   */
  def contaminatedSpans(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int = 20): DataFrame = {
    SizeGuard.requireFits(bench.select(col(benchTextCol)), "contaminatedSpans bench side",
      "pass the smaller frame as bench, or use contaminatedSpansBloom, which never " +
        "broadcasts the bench set")
    val g = corpus.select(col(idCol).as("__id"),
        posexplode(Dedup.charGrams(col(textCol), k)).as(Seq("__i", "__h")))
      .select(col("__id"), (col("__i") + 1).cast("long").as("__p"), col("__h"))
    val bh = bench
      .select(explode(Dedup.charGrams(col(benchTextCol), k)).as("__h")).distinct()
    val marked = g.join(broadcast(bh), "__h").select(col("__id"), col("__p"))
    Dedup.spansFromMarked(marked, k).select(col("__id").as(idCol),
      col("span_start"), col("span_end"), col("n_grams"))
  }

  /**
   * [[contaminatedSpans]] for a benchmark set TOO BIG TO BROADCAST (a full
   * eval-suite union, or decontaminating one corpus against another): the
   * bench gram identities are folded into a Bloom filter, the corpus gram
   * relation is screened by `mightContainLong` BEFORE any exchange — so only
   * probable hits (true matches + fpp false positives) shuffle into the
   * exact verification join against the bench gram relation — and the exact
   * join removes every Bloom false positive. RESULT-IDENTICAL to
   * [[contaminatedSpans]] (the gate pins hash parity with its oracle); only
   * the plan differs: a shuffle join of two hit-sized relations instead of a
   * broadcast of the whole bench set.
   *
   * The screen probes `h1` only (the pair's exact equality is the verify
   * join's job); `fpp` trades screen selectivity against filter size —
   * at 1% fpp the corpus-side shuffle carries ~1% of non-matching grams.
   *
   * The driver-side filter is LINEAR in the distinct bench gram count —
   * ~1.2 bytes/gram at fpp 0.01 (≈1.2 GB per 10⁹ grams), NOT constant —
   * so its size is guarded by [[SizeGuard.requireBloomFits]] (fail fast
   * rather than OOM the driver). The bench gram relation is persisted once
   * and reused by the count, the Bloom aggregate, and the verify join (it
   * stays cached until the session clears it — Bench's inter-query
   * clearCache covers the gate).
   *
   * @return (idCol, span_start, span_end, n_grams) — as [[contaminatedSpans]]
   */
  def contaminatedSpansBloom(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int = 20,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val spark = corpus.sparkSession
    val bh = bench
      .select(explode(Dedup.charGrams(col(benchTextCol), k)).as("__h"))
      .select(col("__h"), col("__h.h1").as("__h1")).distinct()
      .persist()
    // the Bloom build is ONE aggregate over the (persisted) bench gram
    // relation; its expectedNumItems comes from the same pass's distinct
    // count, so no caller-supplied cardinality guess can undersize the filter
    val nGrams = math.max(bh.count(), 1L)
    SizeGuard.requireBloomFits(nGrams, fpp, "distinct bench grams",
      "raise fpp, or pre-shard the bench set and run one call per shard")
    val bloom = bh.stat.bloomFilter("__h1", nGrams, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h1: Long) => bloomBc.value.mightContainLong(h1))
    val g = corpus.select(col(idCol).as("__id"),
        posexplode(Dedup.charGrams(col(textCol), k)).as(Seq("__i", "__h")))
      .select(col("__id"), (col("__i") + 1).cast("long").as("__p"), col("__h"))
      .filter(mightContain(col("__h.h1")))
    val marked = g.join(bh.select(col("__h")), "__h").select(col("__id"), col("__p"))
    Dedup.spansFromMarked(marked, k).select(col("__id").as(idCol),
      col("span_start"), col("span_end"), col("n_grams"))
  }

  /** The cut form of [[contaminatedSpans]]: corpus documents rewritten with
    * every benchmark-leaked span spliced out (interval union-merge +
    * code-point cut, shared with [[Dedup.removeDuplicateSpans]]).
    * @return (idCol, clean_text, removed_chars) */
  def removeContaminatedSpans(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int = 20): DataFrame =
    Dedup.cutSpans(corpus, idCol, textCol,
      contaminatedSpans(corpus, idCol, textCol, bench, benchTextCol, k))

  /**
   * Per-BENCHMARK-document leak report — the eval-integrity view of the same
   * gram collision the span operators act on: for each benchmark doc, how
   * many of its k-char-grams occur ANYWHERE in the training corpus, as an
   * integer-milli fraction. This is the number an eval owner reads before
   * trusting a score ("12% of this benchmark's text is in the training set"),
   * where [[contaminatedSpans]] answers the corpus-side question ("which
   * training spans must be cut").
   *
   * Scale shape: the corpus contributes ONE distinct-gram-identity aggregate
   * (2 longs per distinct gram, no text, no positions); the benchmark side is
   * tiny by contract. Output is 4 longs per bench doc. Same (h1, h2)
   * codegen'd gram identity as [[Dedup.duplicateSpans]] — a single-hash
   * collision would inflate the leak count, the paired identity makes that
   * vanishingly unlikely.
   *
   * @return (benchIdCol, total_grams, leaked_grams, leak_milli) — one row
   *         per bench doc; leak_milli = (leaked*1000) div total (0 when the
   *         doc is shorter than k).
   */
  /**
   * PER-SOURCE CONTAMINATION ROLLUP — the ops dashboard over [[flagged]] /
   * [[fuzzyFlagged]]: for every corpus source, how many docs it
   * contributed, how many are contaminated, and the rate in integer milli.
   * The per-source rate is what drives mixture decisions (drop or
   * down-weight a leaking source) — doc-level flags alone don't localize
   * the leak. Takes the flagged PAIRS as a relation so callers compose it
   * with either flagger (and can drop self-pairs first when the bench set
   * is drawn from the corpus).
   *
   * Plan shape: flags distinct to doc ids (bench-bounded small), one left
   * join against the slim (id, source) projection, one source-keyed
   * rollup — no text is touched here at all.
   *
   * @param flaggedDocs any frame with an `idCol` column of flagged doc ids
   * @return (sourceCol, n_docs, n_flagged, flag_milli)
   */
  def sourceRollup(
      corpus: DataFrame, idCol: String, sourceCol: String,
      flaggedDocs: DataFrame): DataFrame = {
    val bad = flaggedDocs.select(col(idCol)).distinct()
      .withColumn("__f", lit(1L))
    corpus.select(col(idCol), col(sourceCol))
      .join(bad, Seq(idCol), "left")
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), count(col("__f")).as("n_flagged"))
      .select(col(sourceCol), col("n_docs"), col("n_flagged"),
        expr("(n_flagged * 1000) DIV n_docs").as("flag_milli"))
  }

  def leakReport(
      corpus: DataFrame, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int = 20): DataFrame = {
    val cg = corpus
      .select(posexplode(Dedup.charGrams(col(textCol), k)).as(Seq("__i", "__h")))
      .select(col("__h")).distinct()
    val bg = bench.select(col(benchIdCol).as("__bid"),
        posexplode(Dedup.charGrams(col(benchTextCol), k)).as(Seq("__i", "__h")))
      .select(col("__bid"), col("__h"))
    // build side = the BENCH gram table (tiny by contract) — without the hint
    // Catalyst's size estimate can put the corpus distinct-gram relation on
    // the broadcast side, which is exactly the side that is huge at scale
    val leaked = cg.join(broadcast(bg), "__h")
      .groupBy(col("__bid")).agg(count(lit(1)).as("__leak"))
    bench.select(col(benchIdCol).as("__bid"),
        greatest(length(col(benchTextCol)).cast("long") - (k - 1), lit(0L)).as("total_grams"))
      .join(leaked, Seq("__bid"), "left")
      .select(col("__bid").as(benchIdCol), col("total_grams"),
        coalesce(col("__leak"), lit(0L)).as("leaked_grams"),
        when(col("total_grams") > 0L,
          expr("(coalesce(__leak, 0L) * 1000) DIV total_grams"))
          .otherwise(lit(0L)).as("leak_milli"))
  }
}
