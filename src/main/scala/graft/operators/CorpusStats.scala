package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.TextFunctions.{wordGrams, wordsCol}

/**
 * Corpus-level statistical quality signals, and the one core each family
 * shares:
 *
 *  - Add-one n-gram cross-entropy: [[unigramLogLoss]], [[bigramLogLoss]] and
 *    [[trigramLogLoss]] are faces of `ngramLogLoss` (one checkpointed count
 *    table over [[TextFunctions.wordGrams]], its context rollup, V, the
 *    per-doc mean). [[refUnigramLogLoss]] and [[stupidBackoffLogLoss]] train
 *    on a slice and add an OOV/backoff path.
 *  - Word n-grams: every adjacent-n-gram explode is
 *    [[TextFunctions.wordGrams]] — the LMs, [[topNgramCharFraction]],
 *    [[dsirWeights]] at `ngram = 2`, [[stupidBackoffLogLoss]].
 *    [[collocations]] is [[cooccurrence]] at window 1, whose skip pairs are
 *    exactly the adjacent pairs.
 *  - Micro-nats: every log cost is quantized by `microNats`
 *    (`floor(x·1e6)` as BIGINT) BEFORE any aggregation, so per-doc and
 *    per-source sums are exact integer sums — invariant under Spark's
 *    reduction order and mirrored 1:1 in oracle SQL. Only a final mean is a
 *    double: `microMean`, rounded to 4. [[charEntropy]],
 *    [[sourceKlDivergence]], [[mixtureEntropy]], [[dsirWeights]], the PMI
 *    scores and the PSI term all quantize the same way, as do [[Bm25]]'s
 *    idf and query-likelihood components.
 *  - Clamped bins: `binOf` and `requireBins` serve [[exactHistogram]],
 *    [[psiDrift]], [[ksDrift]], [[psiDriftByGroup]] and
 *    [[graft.streaming.StreamDrift.psiPerWindow]]; `microMass` and `psiMicro`
 *    are the smoothed mass and the PSI term of the three PSI sites;
 *    [[psiDrift]] and [[ksDrift]] read one two-side bin table.
 *  - Sketches: [[approxDistinctByGroup]] and [[kmvGroupOverlap]] share one
 *    KMV sketch builder; the count-min family shares its hash rows.
 *  - Exact ranks: [[vocabulary]], [[keepTopPercent]], [[exactPercentiles]],
 *    [[keepTopPercentByGroup]], [[madOutliers]], [[quantileBuckets]] and
 *    [[ensembleRank]] rank through [[DenseRank]], never a partition-less
 *    window.
 *  - Tokenizer training: the BPE and unigram-LM trainers count words in one
 *    distributed aggregation and run their loops on the size-guarded
 *    distinct vocabulary.
 *
 * Documents with no extractable unit (word, n-gram, character) have nothing
 * to score and are absent from per-document outputs.
 */
object CorpusStats {

  /** THE micro-nat quantizer: `floor(x·1e6)` as BIGINT. `scaled` rescales
    * the micro-nat value before the floor ([[mixtureEntropy]]'s `·w/T`). */
  private[graft] def microNats(x: Column, scaled: Column => Column = identity): Column =
    floor(scaled(x * lit(1000000.0))).cast("long")

  /** THE mean tail: a micro-nat sum `__s` over `n` items, in nats rounded to 4. */
  private def microMean(n: Column): Column =
    round(col("__s").cast("double") / (n.cast("double") * lit(1000000.0)), 4)

  /** THE range check of the clamped-bin family. */
  private[graft] def requireBins(lo: Double, hi: Double, nBins: Int): Unit = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
  }

  /** THE clamped bin of a double `v`: `floor((v − lo)/w)`, w = (hi − lo)/nBins
    * in exact double arithmetic, clamped into [0, nBins) — below lo → bin 0,
    * ≥ hi → bin nBins−1, −∞/+∞ included. */
  private[graft] def binOf(v: Column, lo: Double, hi: Double, nBins: Int): Column = {
    val w = (hi - lo) / nBins
    least(greatest(floor((v - lit(lo)) / lit(w)).cast("long"), lit(0L)), lit(nBins.toLong - 1L))
  }

  /** THE add-one-smoothed bin mass in BIGINT micro-units:
    * `(c+1)·10⁶ div (n+nBins)` — never 0, so the PSI log is finite. */
  private[graft] def microMass(c: Column, n: Column, nBins: Int): Column =
    call_function("div", (c + 1) * 1000000L, n + nBins)

  /** THE PSI term of two `microMass`es: `(cur − base)·⌊(ln cur − ln base)·10⁶⌋
    * div 10⁶`. The factors share a sign, so the term is non-negative and
    * `div` equals floor. */
  private[graft] def psiMicro(cur: Column, base: Column): Column =
    call_function("div",
      (cur - base) * microNats(log(cur.cast("double")) - log(base.cast("double"))),
      lit(1000000L))

  /**
   * Corpus vocabulary table: per word, collection frequency (total
   * occurrences), document frequency, and dense frequency rank (ties broken
   * alphabetically — deterministic). One shuffle on the word; the input to
   * tokenizer-training and stopword-derivation steps.
   * @return (word, cf, df, rank)
   */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = docs.select(col(idCol).as("__id"), explode(wordsCol(col(textCol))).as("word"))
    val stats = w.groupBy(col("word"))
      .agg(count(lit(1)).as("cf"), count_distinct(col("__id")).as("df"))
    // global frequency rank on the total order (cf desc, word asc — unique),
    // scale-safely via the shared range-partition + zipWithIndex helper
    DenseRank.appendIndex(stats.select(col("word"), col("cf"), col("df")),
      Seq(col("cf").desc, col("word").asc), "rank", startAt = 1L)
  }

  /**
   * Add-one-smoothed UNIGRAM cross-entropy against the corpus's own word
   * distribution: `xent(d) = avg_{w ∈ d} −ln((c(w)+1)/(N+V))` where c = corpus
   * word count, N = total words, V = vocabulary size. High values flag
   * documents whose word distribution diverges from the corpus (gibberish,
   * boilerplate, wrong language) — the standard perplexity-style filter for
   * training-data curation. Scale shape: `ngramLogLoss`'s.
   * @return (idCol, xent)
   */
  def unigramLogLoss(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ngramLogLoss(docs, idCol, textCol, 1, "xent")

  /** THE add-one n-gram LM of [[unigramLogLoss]], [[bigramLogLoss]] and
    * [[trigramLogLoss]]: per distinct observed n-gram,
    * `q = microNats(−ln((c+1)/(ctx+V)))`, where c is its corpus count, ctx the
    * count of its first n−1 words AS A CONTEXT (Σ over the last word of c;
    * the grand total N at n = 1) and V the corpus vocabulary size; per doc,
    * the `microMean` of q over its n-grams. The count table is ONE
    * aggregation over the [[TextFunctions.wordGrams]] explode, checkpointed
    * because the context rollup, V (at n = 1) and the cost table all read it
    * — observed n-grams only, no vocabⁿ blowup, never collected. At n > 1, V
    * counts the distinct words of every doc, short ones included. Docs with
    * fewer than n words are absent. */
  private def ngramLogLoss(
      docs: DataFrame, idCol: String, textCol: String, n: Int, outCol: String): DataFrame = {
    val ws = docs.select(col(idCol).as("__id"), wordsCol(col(textCol)).as("__ws"))
    val keys = (1 to n).map(o => s"__w$o")
    val grams = ws.select(col("__id"), explode(wordGrams(col("__ws"), n)).as("__g"))
      .select(col("__id") +: keys.zipWithIndex.map { case (k, o) => col(s"__g.w${o + 1}").as(k) }: _*)
    val c = grams.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c")).localCheckpoint()
    val withCtx =
      if (n == 1) c.crossJoin(broadcast(c.agg(sum(col("__c")).as("__ctx"), count(lit(1)).as("__V"))))
      else c.join(c.groupBy(keys.init.map(col): _*).agg(sum(col("__c")).as("__ctx")), keys.init)
        .crossJoin(broadcast(ws.select(explode(col("__ws")).as("__w"))
          .agg(count_distinct(col("__w")).as("__V"))))
    val q = withCtx.select(keys.map(col) :+
      microNats(-log((col("__c") + 1).cast("double") / (col("__ctx") + col("__V")).cast("double")))
        .as("__qn"): _*)
    grams.join(q, keys)
      .groupBy(col("__id"))
      .agg(sum(col("__qn")).as("__s"), count(lit(1)).as("__n"))
      .select(col("__id").as(idCol), microMean(col("__n")).as(outCol))
  }

  /**
   * REFERENCE-LM quality scoring (the CCNet shape): an add-one unigram model
   * is trained on only the rows matching `refFilter` (the trusted slice —
   * wiki-like source, curated seed set), and EVERY document is scored under
   * it. Words outside the reference vocabulary take the OOV bucket
   * probability `1/(N+V+1)` (add-one over vocab ∪ {OOV}); in-vocab words take
   * `(c+1)/(N+V+1)`. High cross-entropy under the trusted model = off-
   * distribution text — the standard "does this look like quality prose"
   * filter, as one relational pass.
   *
   * Same integer micro-nat quantization as [[unigramLogLoss]] (per-word log
   * costs floored to 1e-6 nats BEFORE the per-doc sum), so distributed
   * reduction order cannot perturb the result and the SQL oracle mirrors it
   * bit-exactly. Scale shape: the model is vocabulary-sized (broadcast-bound
   * totals; the word→cost relation shuffles once on the word key); the corpus
   * streams through one explode + join + agg — no per-doc state.
   *
   * @return (idCol, xent_ref) — mean micro-nat cost / 1e6, rounded to 4.
   */
  def refUnigramLogLoss(
      docs: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    val w = docs.select(col(idCol).as("__id"), explode(wordsCol(col(textCol))).as("__w"))
    // vocab-sized, two consumers (totals + cost table)
    val cnt = docs.filter(refFilter)
      .select(explode(wordsCol(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c")).localCheckpoint()
    val tot = cnt.agg(sum(col("__c")).as("__N"), count(lit(1)).as("__V"))
    val q = cnt.crossJoin(broadcast(tot))
      .select(col("__w"),
        microNats(-log((col("__c") + 1).cast("double")
            / (col("__N") + col("__V") + 1).cast("double"))).as("__qn"))
    val oov = microNats(-log(lit(1.0) / (col("__N") + col("__V") + 1).cast("double")))
    w.join(q, Seq("__w"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__id"), coalesce(col("__qn"), oov).as("__qn"))
      .groupBy(col("__id"))
      .agg(sum(col("__qn")).as("__s"), count(lit(1)).as("__n"))
      .select(col("__id").as(idCol), microMean(col("__n")).as("xent_ref"))
  }

  /**
   * Per-document CHARACTER entropy — the gibberish/binary detector: low
   * entropy flags repeated-char runs and boilerplate, implausibly high
   * entropy flags random noise. `H = ln(n) − (1/n) Σ c·ln(c)` over per-doc
   * character counts, computed in exact integers after per-term micro-nat
   * flooring (`Σ c·⌊ln(c)·1e6⌋` is a BIGINT sum — reduction-order-proof, and
   * the oracle mirrors the same floors). One explode + two aggregations, all
   * doc-keyed — embarrassingly parallel.
   *
   * @return (idCol, n_chars, entropy) — micro-nat entropy / 1e6 rounded to 4;
   *         empty/null texts are absent (no characters to measure).
   */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = docs
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
      .filter(col("__t").isNotNull && length(col("__t")) > 0)
      .select(col("__id"), explode(expr("sequence(1, length(__t))")).as("__i"), col("__t"))
      .select(col("__id"), expr("substring(__t, __i, 1)").as("__ch"))
    val cnt = chars.groupBy(col("__id"), col("__ch")).agg(count(lit(1)).as("__c"))
    cnt.groupBy(col("__id"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c") * microNats(log(col("__c").cast("double")))).as("__s"))
      .select(col("__id").as(idCol), col("__n").as("n_chars"),
        round((microNats(log(col("__n").cast("double")))
            - floor(col("__s").cast("double") / col("__n").cast("double")).cast("long"))
          .cast("double") / lit(1000000.0), 4).as("entropy"))
  }

  /**
   * Approximate per-group distinct count via the [[graft.functions.KmvAgg]]
   * bottom-k sketch — `select approx_count_distinct` you can ORACLE: the
   * hash is the library's deterministic [[graft.functions.TextFunctions.tHash]]
   * (folded into [0, 2³¹)), so the sketch content and the estimate are
   * bit-identical across engines and runs. Fewer than k distinct hashes in a
   * group = the EXACT count; otherwise the standard KMV estimator
   * `(k-1) / ((v_k + 1) / 2³¹)` on the k-th smallest normalized hash.
   *
   * Scale shape: the raw values NEVER shuffle — the typed aggregation keeps
   * ≤ k Longs per (group, partition) map-side and merges bounded sketches
   * (contrast `count(DISTINCT x)`, which shuffles every distinct value).
   * Null values are ignored (match `count(DISTINCT)` semantics); null groups
   * group together like any groupBy.
   *
   * @return (groupCol, n_sketch, estimate) — n_sketch = survivors (= exact
   *         distinct when < k), estimate rounded to 4.
   */
  def approxDistinctByGroup(
      df: DataFrame, groupCol: String, valueCol: String, k: Int = 64): DataFrame = {
    import df.sparkSession.implicits._
    kmvSketches(df, groupCol, valueCol, k)
      .map { case (g, sk) => (g, sk.length.toLong, if (sk.isEmpty) -1L else sk.last) }
      .toDF(groupCol, "n_sketch", "__vk")
      // the estimate division + rounding stay Spark EXPRESSIONS so the engine
      // rounding rule (HALF_UP, positive domain) matches the SQL oracle 1:1
      .select(col(groupCol), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble) / ((col("__vk") + 1).cast("double") / lit(2147483648.0)), 4))
          .as("estimate"))
  }

  /**
   * KMV SKETCH ALGEBRA — pairwise group-overlap estimates from the
   * per-group bottom-k sketches (the GB-KMV/containment-search idea,
   * ICDE'19): for two groups with sketches S_A, S_B, the k smallest of
   * S_A ∪ S_B form the union's sketch; the fraction ρ of those present in
   * BOTH sketches estimates Jaccard(A, B), and ρ · D̂(A ∪ B) estimates
   * |A ∩ B|. Everything after the sketches is pure COLUMN ALGEBRA
   * (array_sort/slice/filter — no UDF) over k-element arrays, and the
   * deterministic tHash basis makes every estimate hash-pinned.
   *
   * Scale: values never shuffle (the sketch aggregation is [[graft.functions.KmvAgg]]);
   * the pairwise stage joins one k-Long array per group — meant for
   * group-cardinality overlap matrices (sources, languages, event types),
   * not for millions of groups.
   *
   * @return (g_a, g_b, n_union, jaccard_est, inter_est) for g_a < g_b;
   *         n_union < k means the union sketch is exact.
   */
  def kmvGroupOverlap(
      df: DataFrame, groupCol: String, valueCol: String, k: Int = 64): DataFrame = {
    val sk = kmvSketches(df, groupCol, valueCol, k).toDF("__g", "__sk")
    val a = sk.select(col("__g").as("g_a"), col("__sk").as("__ska"))
    val b = sk.select(col("__g").as("g_b"), col("__sk").as("__skb"))
    val unionK = slice(array_sort(array_distinct(concat(col("__ska"), col("__skb")))), 1, k)
    a.join(b, col("g_a") < col("g_b"))
      .withColumn("__u", unionK)
      .withColumn("__nu", size(col("__u")))
      .withColumn("__nboth", size(filter(col("__u"),
        x => array_contains(col("__ska"), x) && array_contains(col("__skb"), x))))
      // ρ = |in both| / |union sketch|; D̂(union) = exact when the union
      // sketch is under k, else the standard (k-1)/v_k estimator
      .withColumn("__rho", col("__nboth").cast("double") / col("__nu").cast("double"))
      .withColumn("__du",
        when(col("__nu") < k, col("__nu").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ((element_at(col("__u"), k) + 1).cast("double") / lit(2147483648.0))))
      .select(col("g_a"), col("g_b"), col("__nu").cast("long").as("n_union"),
        round(col("__rho"), 4).as("jaccard_est"),
        round(col("__rho") * col("__du"), 4).as("inter_est"))
  }

  /** THE KMV sketch builder of [[approxDistinctByGroup]] and
    * [[kmvGroupOverlap]]: per group (as a string), the [[graft.functions.KmvAgg]]
    * bottom-k sketch of its non-null values' tHash folded into [0, 2³¹). */
  private def kmvSketches(
      df: DataFrame, groupCol: String, valueCol: String, k: Int): Dataset[(String, Seq[Long])] = {
    import df.sparkSession.implicits._
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string"),
        pmod(TextFunctions.tHashUdf(col(valueCol).cast("string")), lit(2147483648L)).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.KmvAgg(k).toColumn)
  }

  /**
   * Add-one-smoothed BIGRAM cross-entropy — the order-2 upgrade of
   * [[unigramLogLoss]] (KenLM-style n-gram scoring, truncated to n=2):
   * `xent2(d) = avg_{(w1,w2) ∈ d} −ln((c2(w1,w2)+1)/(c1(w1)+V))` where c2 =
   * corpus bigram count, c1 = corpus count of w1 as a context (= Σ_w2 c2),
   * and V = corpus unigram vocabulary size. Catches word-salad documents
   * whose unigram distribution looks normal but whose transitions are
   * improbable — the complement of [[unigramLogLoss]].
   *
   * The n = 2 face of `ngramLogLoss`. Documents with fewer than two
   * extractable words have no transition to score and are absent.
   * @return (idCol, xent2)
   */
  def bigramLogLoss(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ngramLogLoss(docs, idCol, textCol, 2, "xent2")

  /**
   * Add-one-smoothed TRIGRAM cross-entropy — order 3 of the
   * [[unigramLogLoss]]/[[bigramLogLoss]] family:
   * `xent3(d) = avg_{(w1,w2,w3) ∈ d} −ln((c3(w1,w2,w3)+1)/(ctx2(w1,w2)+V))`
   * where c3 = corpus trigram count, ctx2 = occurrences of (w1,w2) AS A
   * TRIGRAM CONTEXT (= Σ_w3 c3), and V = the unigram vocabulary size. Longer
   * context catches locally-fluent word salad that order-2 scores as normal.
   * The n = 3 face of `ngramLogLoss`; documents with fewer than three
   * extractable words are absent.
   * @return (idCol, xent3)
   */
  def trigramLogLoss(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ngramLogLoss(docs, idCol, textCol, 3, "xent3")

  /**
   * Gopher-style repetition signal (Rae et al. 2021, "Scaling Language
   * Models", Table A1): the fraction of a document's word characters covered
   * by its single most frequent word n-gram —
   * `char_frac = occurrences(top) · chars(top) / Σ chars(words)` where
   * chars(top) counts the n-gram's words joined by single spaces minus the
   * n−1 separators. High values flag template/boilerplate docs that repeat
   * one phrase. Deterministic top pick: (count desc, n-gram asc). Documents
   * with fewer than n words are absent; the per-doc top runs in a
   * doc-partitioned window (no global sort).
   * @return (idCol, top_ngram, occurrences, char_frac rounded to 4)
   */
  def topNgramCharFraction(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2 && n <= 8, s"need 2 <= n <= 8, got $n")
    import org.apache.spark.sql.expressions.Window
    val ws = docs.select(col(idCol).as("__id"), wordsCol(col(textCol)).as("__ws"))
    val totals = ws.select(col("__id"), explode(col("__ws")).as("__w"))
      .groupBy(col("__id")).agg(sum(length(col("__w"))).as("__tot"))
    val grams = ws.select(col("__id"),
      explode(transform(wordGrams(col("__ws"), n), TextFunctions.gramKey(_, n))).as("__g"))
    val cnt = grams.groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__c").desc, col("__g").asc)
    cnt.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(totals, "__id")
      .select(col("__id").as(idCol), col("__g").as("top_ngram"),
        col("__c").as("occurrences"),
        round(col("__c").cast("double") * (length(col("__g")) - lit(n - 1)).cast("double")
          / col("__tot").cast("double"), 4).as("char_frac"))
  }

  /**
   * EXACT fixed-range histogram of a numeric column — the reproducible
   * data-profiling primitive (`approx_percentile`/sampled profiles drift
   * between runs; this is one deterministic aggregate). Bin width =
   * (hi − lo)/nBins in exact double arithmetic; values clamp into the edge
   * bins (below lo → bin 0, ≥ hi → bin nBins−1 — profiling convention, so
   * no finite row is silently dropped); nulls AND NaNs are excluded (a NaN
   * survives isNotNull and Spark's non-ANSI cast would silently count it in
   * bin 0 — and the DuckDB oracle diverges on it — so it is filtered
   * explicitly; −∞/+∞ clamp into the edge bins like any out-of-range value).
   * Only occupied bins are returned. One shuffle on the bin id.
   * @return (bin, lo_edge, hi_edge, n) — edges rounded to 4
   */
  def exactHistogram(
      df: DataFrame, valueCol: String, lo: Double, hi: Double, nBins: Int): DataFrame = {
    requireBins(lo, hi, nBins)
    val w = (hi - lo) / nBins
    df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .select(binOf(col("__v"), lo, hi, nBins).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .select(col("bin"),
        round(lit(lo) + col("bin").cast("double") * lit(w), 4).as("lo_edge"),
        round(lit(lo) + (col("bin") + 1).cast("double") * lit(w), 4).as("hi_edge"),
        col("n"))
  }

  /**
   * BPE first-iteration merge candidates: corpus-wide counts of adjacent
   * character pairs inside words, weighted by word occurrence — the
   * statistic a byte-pair-encoding tokenizer trainer computes each merge
   * round (Sennrich et al. 2016). This gates the distributed shape of that
   * count (explode word occurrences → in-word char pairs → one aggregate);
   * the iterative re-merge loop is a driver-side for-loop over exactly this
   * relation. Top `topK` pairs by (count desc, pair asc): the global window
   * runs on the AGGREGATED pair relation, whose cardinality is bounded by
   * the symbol alphabet squared (676 for [a-z] words) — not by corpus size —
   * and WindowGroupLimit trims each upstream partition to topK first.
   * @return (pair, n, rnk)
   */
  def bpePairCounts(
      docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(explode(wordsCol(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
    val pairs = words.select(
      explode(transform(sequence(lit(1), length(col("__w")) - 1),
        i => col("__w").substr(i, lit(2)))).as("pair"))
    val counted = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
    // topK is small by contract: the single-partition window sees only the
    // already-aggregated pair relation's top rows via the rank-limit pushdown
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    counted.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
  }

  /**
   * EXACT global percentile filter: keep precisely the top `pct`% of rows by
   * `(scoreCol desc, idCol asc)` — `floor(n·pct/100)` rows, integer
   * arithmetic, deterministic ties. The curation step "keep the best 60% by
   * quality" needs an exact, reproducible cut: `approxQuantile` drifts
   * between runs and partitionings, and a threshold learned on a sample moves
   * with the sample. Ranking runs on the scale-safe [[DenseRank]] path
   * (range-partition + zipWithIndex over a slim (id, score) projection), NOT
   * a partition-less window; cost = one count job + the rank's slim sort.
   * @return (idCol, scoreCol) for the surviving rows — join back by id for
   *         the full frame.
   */
  def keepTopPercent(
      df: DataFrame, idCol: String, scoreCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    // materialize the slim (id, score) projection ONCE: three downstream
    // passes consume it (the count, zipWithIndex's internal count, the rank
    // emit) and score columns are typically expression-heavy (regex scoring)
    val slim = df.select(col(idCol), col(scoreCol)).localCheckpoint(true)
    val keep = slim.count() * pct / 100
    DenseRank.appendIndex(slim, Seq(col(scoreCol).desc, col(idCol).asc), "__rank",
        failOnNullCol = Some(idCol))
      .filter(col("__rank") < keep)
      .select(col(idCol), col(scoreCol))
  }

  /**
   * EXACT nearest-rank percentiles of a numeric column — the reproducible
   * quality-report primitive (`p50/p90/p99 of document length`):
   * `value(p) = the element at rank floor((n-1)·p/100)` of the ascending
   * sort. `approxQuantile` drifts between runs and partitionings; this is
   * exact and deterministic. Scale shape: ranks via [[DenseRank]]
   * (range-partition + zipWithIndex on the slim value projection — no
   * partition-less window), then one broadcast-filter picks the |ps| target
   * ranks. Ties need no tiebreak: any order among equal values yields the
   * same value at a rank. Nulls are excluded (SQL percentile semantics).
   *
   * @return (p, value) — one row per requested percentile
   */
  def exactPercentiles(df: DataFrame, valueCol: String, ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0,100], got $ps")
    val slim = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .localCheckpoint(true) // consumed by the count AND the rank pipeline
    val n = slim.count()
    require(n > 0, "no non-null values to rank")
    val targets = ps.distinct.map(p => ((n - 1) * p / 100, p.toLong))
    val rankToP = targets.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ranked = DenseRank.appendIndex(slim, Seq(col("__v").asc), "__r")
      .filter(col("__r").isin(rankToP.keys.toSeq: _*))
    val spark = df.sparkSession
    import spark.implicits._
    ranked.select(col("__r"), col("__v"))
      .as[(Long, Double)]
      .flatMap { case (r, v) => rankToP(r).map(p => (p, v)) }
      .toDF("p", "value")
  }

  /**
   * PER-GROUP exact percentile filter: [[keepTopPercent]] applied within each
   * group — keep `floor(n_g·pct/100)` rows of every group g by
   * `(scoreCol desc, idCol asc)`. The curation form that stops one source
   * from dominating the survivors: a global cut keeps whatever scores
   * highest anywhere; this keeps the best pct% OF EACH source.
   *
   * Scale shape: NO per-group window (a hot group would funnel through one
   * task). One global [[DenseRank]] over `(group, score desc, id)` makes
   * every group a contiguous rank range; per-group rank = global rank minus
   * the group's broadcast start offset, and the group's row count rides the
   * same broadcast aggregate ([[Sampling.withSourceCap]]'s technique, plus
   * the count for the percentage cut). Null groups raise — a silent drop
   * would shift every percentage. (The broadcast aggregate is one row per
   * group: fine for source/language/domain cardinalities; a grouping with
   * hundreds of millions of distinct values would need the offsets joined by
   * shuffle instead.)
   *
   * @return (idCol, groupCol, scoreCol) for survivors — join back by id for
   *         the full frame.
   */
  def keepTopPercentByGroup(
      df: DataFrame, idCol: String, scoreCol: String, groupCol: String,
      pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    val slim = df.select(
        coalesce(col(groupCol),
          raise_error(lit(s"null $groupCol in keepTopPercentByGroup"))).as(groupCol),
        col(idCol), col(scoreCol))
      .localCheckpoint(true)
    val g = DenseRank.appendIndex(slim,
      Seq(col(groupCol).asc, col(scoreCol).desc, col(idCol).asc), "__g",
      failOnNullCol = Some(idCol))
    val stats = g.groupBy(col(groupCol))
      .agg(min(col("__g")).as("__start"), count(lit(1)).as("__n"))
    // floor(): Column./ is DOUBLE division — a bare n·pct/100 comparison
    // would keep one extra rank whenever n·pct isn't a multiple of 100
    g.join(broadcast(stats), groupCol)
      .filter(col("__g") - col("__start") <
        floor(col("__n") * pct / lit(100)).cast("long"))
      .select(col(idCol), col(groupCol), col(scoreCol))
  }

  /**
   * GOPHER QUALITY RULES (Rae et al. 2021, "Scaling Language Models" §A1.1 —
   * the rule-based doc filter every large English crawl pipeline starts
   * from): per-document boolean flags for the word-count window, the
   * mean-word-length window, and the minimum-distinct-stopword rule, plus
   * the conjunction. Documents failing `pass` are the cheap first cut before
   * any model-based scoring.
   *
   * All-integer determinism: mean word length compares in integer
   * milli-chars (`Σlen(w)·1000 DIV n`), stopword hits count DISTINCT list
   * words present; no float anywhere, so the gate hash-matches a 1:1 SQL
   * mirror. Scale shape: one pass of per-row scalar expressions — no shuffle
   * at all (the aggregation is per row over its own word array).
   *
   * @return (idCol, n_words, mean_wl_milli, stop_hits,
   *          flag_words, flag_wordlen, flag_stop, pass) — flags are 1/0.
   */
  def gopherFlags(
      docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 10, maxWords: Int = 100000,
      minWlMilli: Long = 2000L, maxWlMilli: Long = 10000L,
      minStop: Int = 2): DataFrame = {
    val stops = graft.functions.TextFunctions.StopwordLists.head._2
    val stopsArr = s"array(${stops.map(w => s"'$w'").mkString(",")})"
    docs.select(col(idCol), wordsCol(col(textCol)).as("__ws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        expr("aggregate(__ws, 0L, (a, w) -> a + length(w))").as("__chars"),
        expr(s"size(array_intersect(__ws, $stopsArr))").cast("long").as("stop_hits"))
      .select(col(idCol), col("n_words"),
        when(col("n_words") > 0L, expr("(__chars * 1000L) DIV n_words"))
          .otherwise(0L).as("mean_wl_milli"),
        col("stop_hits"))
      .select(col(idCol), col("n_words"), col("mean_wl_milli"), col("stop_hits"),
        when(col("n_words") >= minWords && col("n_words") <= maxWords, 1L)
          .otherwise(0L).as("flag_words"),
        when(col("mean_wl_milli") >= minWlMilli && col("mean_wl_milli") <= maxWlMilli, 1L)
          .otherwise(0L).as("flag_wordlen"),
        when(col("stop_hits") >= minStop, 1L).otherwise(0L).as("flag_stop"))
      .withColumn("pass",
        col("flag_words") * col("flag_wordlen") * col("flag_stop"))
  }

  /**
   * PER-SOURCE UNIGRAM KL DIVERGENCE vs the whole corpus — the domain-shift
   * MIXTURE-BALANCE RECEIPT — Shannon entropy of the char-weighted source
   * mixture plus its dominant share, the one-row dashboard for "is one
   * source eating the corpus": `H = Σ_s (w_s/T)·ln(T/w_s)` in integer
   * micro-nats (each source's term floored on a single canonical double
   * path, then summed exactly — the [[unigramLogLoss]] idiom), and
   * `max_share_milli = max_s ⌊1000·w_s/T⌋`. H near ln(n_sources) means
   * balanced; H near 0 or a large max share means collapse. A zero-weight
   * source adds 0 to both (still counted in n_sources); a zero total gives 0.
   *
   * Scale shape: one source-keyed rollup + a broadcast 1-row total —
   * nothing else moves.
   *
   * @return single row (n_sources, total_w, entropy_micro, max_share_milli)
   */
  def mixtureEntropy(
      docs: DataFrame, sourceCol: String, weightCol: String): DataFrame = {
    val w = docs.filter(col(sourceCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(sourceCol)).agg(sum(col(weightCol).cast("long")).as("__w"))
    val t = w.agg(sum(col("__w")).as("__t"))
    // ANSI division throws on w = 0 and T = 0: guarded, a zero-weight term
    // is its w → 0 limit, 0
    w.crossJoin(broadcast(t))
      .select(col("__w"), col("__t"),
        when(col("__w") === 0L, lit(0L)).otherwise(
          microNats(log(col("__t").cast("double") / col("__w")), _ * col("__w") / col("__t")))
          .as("__e"))
      .agg(count(lit(1)).as("n_sources"), max(col("__t")).as("total_w"),
        sum(col("__e")).as("entropy_micro"),
        max(when(col("__t") === 0L, lit(0L)).otherwise(expr("(__w * 1000) DIV __t")))
          .as("max_share_milli"))
  }

  /**
   * monitor for multi-source crawls: KL(p_source ‖ p_corpus) =
   * Σ_w p_s(w)·ln(p_s(w)/p(w)) over the source's observed words (p_s(w) > 0
   * always, p(w) > 0 because the corpus contains the source — no smoothing
   * needed). A source drifting from the mixture (different language, spam
   * injection, template flood) spikes here long before eyeballing samples
   * would catch it.
   *
   * Determinism: the per-word log ratio `ln((c_sw·N)/(N_s·c_w))` is computed
   * on EXACT integer products (each < 2^53, so the double quotient is one
   * correctly-rounded operation in any IEEE engine) and quantized to integer
   * micro-nats (the [[unigramLogLoss]] idiom); the per-source aggregation is
   * then an exact integer sum `Σ_w c_sw·q_w`, and only the final
   * normalization by N_s is a rounded double.
   *
   * Scale shape: one (source, word) count, one word count derived from it by
   * a second map-side-combined aggregation, totals via a broadcast 1-row
   * frame — three exchanges total, none carrying text.
   *
   * @return (sourceCol, n_tokens, kl) — kl in nats rounded to 4.
   */
  def sourceKlDivergence(docs: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val w = docs.select(col(sourceCol).as("__src"), explode(wordsCol(col(textCol))).as("__w"))
    // (source × word)-bounded with three consumers (corpus-word rollup,
    // per-source totals, contribution join) — checkpointed so the corpus
    // tokenize runs once (r17); every other table rolls up from it
    val csw = w.groupBy(col("__src"), col("__w")).agg(count(lit(1)).as("__csw"))
      .localCheckpoint()
    val cw = csw.groupBy(col("__w")).agg(sum(col("__csw")).as("__cw"))
    val ns = csw.groupBy(col("__src")).agg(sum(col("__csw")).as("__ns"))
    val n = cw.agg(sum(col("__cw")).as("__N"))
    val contrib = csw
      .join(cw, "__w")
      .join(ns, "__src")
      .crossJoin(broadcast(n))
      .select(col("__src"), col("__ns"),
        (col("__csw") * microNats(log((col("__csw") * col("__N")).cast("double") /
          (col("__ns") * col("__cw")).cast("double")))).as("__q"))
    contrib.groupBy(col("__src"))
      .agg(first(col("__ns")).as("__ns2"), sum(col("__q")).as("__s"))
      .select(col("__src").as(sourceCol), col("__ns2").as("n_tokens"),
        microMean(col("__ns2")).as("kl"))
  }

  /**
   * DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection for Language
   * Models via Importance Resampling") — per-document log importance ratio
   * `log(p_target(doc) / p_raw(doc))` under add-one-smoothed unigram
   * distributions of a TARGET slice (the domain you want more of) vs the
   * RAW remainder. Selecting the top-weight raw documents (or Gumbel-top-k
   * sampling on the weights) tilts a 100 TB crawl toward the target domain —
   * the paper's hashed-n-gram features degrade to unigrams here, where the
   * fixture vocabulary is small and exactly mirrorable.
   *
   * Determinism: both distributions quantize to integer micro-nat surprisals
   * over the UNION vocabulary (`qT_w = floor(−ln((cT_w+1)/(NT+V))·1e6)`, the
   * [[unigramLogLoss]] idiom; add-one keeps unseen-in-one-side words finite);
   * a document's weight is the exact BIGINT sum `Σ_tokens (qR_w − qT_w)` —
   * positive = looks like the target. No float reduction anywhere.
   *
   * Scale shape: two word-count aggregations + a full-outer vocab join
   * (vocab-sized, not corpus-sized), then one join of the exploded corpus
   * against the weight table (AQE broadcasts it when small) and one per-doc
   * sum. Every doc with ≥ 1 word is scored — target docs too (their weights
   * are diagnostics); wordless docs are absent (no distribution to score).
   *
   * @param targetPred SQL predicate over `docs` columns defining the target
   * @param ngram      feature order: 1 = unigrams, 2 = adjacent word bigrams
   *                   (the paper's n-gram features at their exactly-mirrorable
   *                   order; bigrams sharpen domain signal on short docs)
   * @return (idCol, n_tokens, dsir_micro) — dsir_micro = Σ (qR − qT) in
   *         micro-nats, exact integer.
   */
  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String, targetPred: String,
      ngram: Int = 1): DataFrame = {
    require(ngram == 1 || ngram == 2, s"ngram must be 1 or 2, got $ngram")
    val base = docs.select(col(idCol).as("__id"),
      expr(targetPred).as("__t"), wordsCol(col(textCol)).as("__ws"))
    // docs with fewer than `ngram` words have no features and are absent
    // (same contract as the wordless-doc exclusion below)
    val feats =
      if (ngram == 1) col("__ws")
      else transform(wordGrams(col("__ws"), 2), TextFunctions.gramKey(_, 2))
    val toks = base.select(col("__id"), col("__t"), explode(feats).as("__w"))
    // Both sides' counts in ONE conditional aggregation over one token pass
    // (the former two filtered groupBys + full-outer vocab join re-ran the
    // tokenizer explode per side), checkpointed because the weight table and
    // the totals row both read it — vocab-sized, so the materialization is
    // safe at any corpus size. Rows with a NULL target predicate count to
    // neither side and are excluded up front, exactly as the two filters did.
    val vocab = toks.filter(col("__t").isNotNull)
      .groupBy(col("__w"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__cr"))
      .localCheckpoint()
    val tot = vocab.agg(sum(col("__ct")).as("__NT"), sum(col("__cr")).as("__NR"),
      count(lit(1)).as("__V"))
    def q(c: Column, n: Column) =
      microNats(-log((c + 1).cast("double") / (n + col("__V")).cast("double")))
    val wt = vocab.crossJoin(broadcast(tot))
      .select(col("__w"),
        (q(col("__cr"), col("__NR")) - q(col("__ct"), col("__NT"))).as("__d"))
    toks.join(wt, "__w")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__d")).as("dsir_micro"))
      .select(col("__id").as(idCol), col("n_tokens"), col("dsir_micro"))
  }

  /**
   * Zipf-law slope of the corpus frequency spectrum — the one-number corpus
   * health check: natural text fits `ln cf ≈ a + slope·ln rank` with slope
   * ≈ −1; a much flatter slope flags template/boilerplate floods, a much
   * steeper one flags collapsed vocabulary (both classic crawl pathologies).
   * Least squares over the top `maxRank` of [[vocabulary]]'s spectrum with
   * both logs quantized to integer MILLI-nats first, so every sum in the
   * closed-form slope `(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)` is an exact BIGINT
   * (all magnitudes < 10¹⁴ at any corpus size — milli not micro precisely to
   * keep ΣxΣy in range); only the final division is a double, rounded to 6.
   *
   * @return one row: (n_words, slope) — slope = 0.0 for degenerate spectra
   *         (fewer than 2 distinct ranks).
   */
  def zipfSlope(
      docs: DataFrame, idCol: String, textCol: String,
      maxRank: Int = 500): DataFrame = {
    require(maxRank >= 2, s"maxRank must be >= 2, got $maxRank")
    val q = vocabulary(docs, idCol, textCol)
      .filter(col("rank") <= maxRank)
      .select(
        floor(log(col("rank").cast("double")) * lit(1000.0)).cast("long").as("__x"),
        floor(log(col("cf").cast("double")) * lit(1000.0)).cast("long").as("__y"))
    q.agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col("__n").as("n_words"),
        when(col("__n") * col("__sxx") - col("__sx") * col("__sx") === 0L, lit(0.0))
          .otherwise(round(
            (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
              (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"), 6))
          .as("slope"))
  }

  /**
   * Collocation extraction by pointwise mutual information over adjacent
   * word pairs — the phrase-mining / tokenizer-seeding step ("new york",
   * "machine learning" score high; chance co-occurrences score ~0):
   * [[cooccurrence]] at window 1, whose skip pairs are exactly the adjacent
   * pairs. Scored in integer micro-nats so the ranking is
   * reduction-order-proof and oracle-exact:
   * `pmi_micro = q(c_x/N₁) + q(c_y/N₁) − q(c_xy/N₂)` with
   * `q(p) = floor(−ln(p)·10⁶)` (observed pairs only, so no smoothing is
   * needed). Pairs never cross document boundaries.
   *
   * @param minCount noise floor: pairs rarer than this are dropped BEFORE
   *                 the join (rare pairs otherwise dominate PMI rankings)
   * @return (w1, w2, n_pair, pmi_micro) — top `topK` by
   *         (pmi_micro DESC, w1, w2), a deterministic total order.
   */
  def collocations(
      docs: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 100): DataFrame =
    cooccurrence(docs, textCol, 1, minCount, topK)

  /**
   * SKIP-GRAM co-occurrence PMI — [[collocations]] widened to a ±`window`
   * token window (the word2vec/GloVe counting shape): every ordered pair
   * `(ws[i], ws[i+d])` with `1 ≤ d ≤ window` counts, so associations that
   * skip a token ("new __ york") surface too. Same exact micro-nat PMI
   * quantization and (pmi desc, w1, w2) total order.
   *
   * Scale shape: each doc emits `(w, null)` per word and `(w1, w2)` per
   * skip pair, and ONE aggregation over the union of the two counts both —
   * words never collide with pairs, since words are never null. The union
   * keeps the two explodes in separate tasks. The count table is
   * vocab-/pair-vocab-sized and read by the totals and three joins, so it
   * is checkpointed once; the unigram side joins by word (AQE broadcasts it
   * when the vocabulary allows), scalar totals ride 1-row broadcasts.
   */
  def cooccurrence(
      docs: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val ws = docs.select(wordsCol(col(textCol)).as("__ws"))
    val unis = ws.select(explode(col("__ws")).as("w1"), lit(null).cast("string").as("w2"))
    val pairs = ws.filter(size(col("__ws")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(0, size(__ws) - 2),
           | i -> transform(sequence(1, least($window, size(__ws) - 1 - i)),
           |   d -> struct(__ws[i] AS w1, __ws[i + d] AS w2))))""".stripMargin)).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val counts = unis.union(pairs)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val uni = counts.filter(col("w2").isNull).select(col("w1").as("__w"), col("__n").as("__c1"))
    val bi = counts.filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("__n").as("n_pair"))
    val n1 = uni.agg(sum(col("__c1")).as("__N1"))
    val n2 = bi.agg(sum(col("n_pair")).as("__N2"))
    def q(c: Column, n: Column) = microNats(-log(c.cast("double") / n.cast("double")))
    bi.filter(col("n_pair") >= minCount)
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .join(uni.select(col("__w").as("w1"), col("__c1").as("__cx")), "w1")
      .join(uni.select(col("__w").as("w2"), col("__c1").as("__cy")), "w2")
      .select(col("w1"), col("w2"), col("n_pair"),
        (q(col("__cx"), col("__N1")) + q(col("__cy"), col("__N1")) -
          q(col("n_pair"), col("__N2"))).as("pmi_micro"))
      .orderBy(desc("pmi_micro"), col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-row count-min-sketch hash constants (depth ≤ 8). All < 2³¹ so the
    * bucket arithmetic `h·A + B` stays < 2⁶² — exact in BIGINT in both
    * engines (no overflow, no wrap divergence). Mirrored as SQL list
    * literals in [[graft.Oracles.cmsTopTokensSql]]. */
  private[graft] val CmsA: Seq[Long] = Seq(
    1103515245L, 1583458089L, 784588717L, 999999937L,
    1299709L, 15485863L, 32452843L, 49979687L)
  private[graft] val CmsB: Seq[Long] = Seq(
    12345L, 54321L, 2531011L, 7919L, 104729L, 1299721L, 15485867L, 982451653L)

  private def cmsBucketRows(h: Column, width: Int, depth: Int) =
    explode(array((0 until depth).map { j =>
      struct(lit(j).cast("long").as("__j"),
        ((h * lit(CmsA(j)) + lit(CmsB(j))) % lit(width.toLong)).as("__b"))
    }: _*))

  private def requireCms(width: Int, depth: Int): Unit = {
    require(width > 1, s"width must be > 1, got $width")
    require(depth >= 1 && depth <= CmsA.length,
      s"depth must be in [1, ${CmsA.length}], got $depth")
  }

  /**
   * Count-min sketch (Cormode & Muthukrishnan 2005) over a value column:
   * `depth` hash rows × `width` buckets, cell = occurrence count of values
   * hashing there. THE mergeable frequency artifact for a 100 TB corpus —
   * at most `depth·width` Longs regardless of corpus size, built by one
   * map-side-combined aggregation (sketches of two corpus halves merge by
   * cell-wise +). Hashing is the library's deterministic [[TextFunctions.tHash]]
   * folded to [0, 2³¹) then one affine map per row, so the sketch CONTENT is
   * bit-identical across engines — the estimate itself is oracle-checkable
   * (same posture as [[approxDistinctByGroup]]'s KMV).
   * Null values are ignored.
   * @return (j, b, c) — hash-row index, bucket, occurrence count.
   */
  def cmsSketch(df: DataFrame, colName: String, width: Int, depth: Int): DataFrame = {
    requireCms(width, depth)
    df.select(col(colName)).where(col(colName).isNotNull)
      .select(pmod(TextFunctions.tHashUdf(col(colName)), lit(2147483647L)).as("__h"))
      .select(cmsBucketRows(col("__h"), width, depth).as("rb"))
      .groupBy(col("rb.__j").as("j"), col("rb.__b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /**
   * Point-query a [[cmsSketch]] for a candidate list: estimate = min over
   * the `depth` cells a value hashes to — the classic one-sided CMS bound
   * (estimate ≥ true count, always). The sketch side is ≤ `depth·width`
   * rows and is broadcast, so candidates never shuffle: at 100 TB the
   * candidate list is a sample / watch-list / other corpus' vocabulary,
   * queried WITHOUT re-scanning the sketched corpus.
   * @return (colName, est_count)
   */
  def cmsEstimate(
      sketch: DataFrame, candidates: DataFrame, colName: String,
      width: Int, depth: Int): DataFrame = {
    requireCms(width, depth)
    candidates.select(col(colName)).where(col(colName).isNotNull).distinct()
      .select(col(colName),
        pmod(TextFunctions.tHashUdf(col(colName)), lit(2147483647L)).as("__h"))
      .select(col(colName), cmsBucketRows(col("__h"), width, depth).as("rb"))
      .select(col(colName), col("rb.__j").as("j"), col("rb.__b").as("b"))
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy(col(colName))
      .agg(min(col("c")).as("est_count"))
  }

  /**
   * Heavy-hitter words of a document corpus via [[cmsSketch]] +
   * [[cmsEstimate]]: top `topK` by estimated count, ties broken
   * alphabetically (deterministic total order — word is unique).
   * The gate face deliberately uses the corpus' own distinct words as the
   * candidate list (worst case); the scale deployment queries the sketch
   * with an external candidate list instead.
   * @return (word, est_count) — est_count ≥ the exact count, = for words
   *         colliding with nothing in at least one hash row.
   */
  def cmsTopTokens(
      docs: DataFrame, textCol: String,
      width: Int = 1024, depth: Int = 4, topK: Int = 50): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val words = docs.select(explode(wordsCol(col(textCol))).as("word"))
    val sk = cmsSketch(words, "word", width, depth)
    cmsEstimate(sk, words, "word", width, depth)
      .orderBy(desc("est_count"), col("word"))
      .limit(topK)
  }

  /**
   * Tokenizer FERTILITY by source — the tokenizer-fit diagnostic (how many
   * subwords per word, how many chars per subword) under the learned BPE
   * merges, rolled up per source: a domain whose fertility is far above the
   * corpus norm is one the tokenizer fragments (code in a prose tokenizer,
   * an unseen language, transcription noise) and will over-spend context
   * budget at training time. Unseen words fall back to char-length
   * segmentation, exactly like [[bpeEncodeStats]].
   *
   * Integer-milli ratios via BIGINT div — reduction-order-proof. One corpus
   * explode + one broadcast segmentation join + one ≤|sources| aggregation.
   *
   * @return (sourceCol, n_words, n_subwords, n_chars, fertility_milli —
   *         subwords per word ×1000, chars_per_token_milli)
   */
  def bpeFertilityBySource(
      docs: DataFrame, sourceCol: String, textCol: String, nMerges: Int,
      minCount: Long = 1L, maxVocab: Int = 2000000): DataFrame = {
    val seg = bpeSegmentWords(docs, textCol, nMerges, minCount, maxVocab)
      .select(col("word").as("__w"), col("n_tokens").as("__t"))
    docs.select(col(sourceCol).as("__src"), explode(wordsCol(col(textCol))).as("__w"))
      .join(broadcast(seg), Seq("__w"), "left")
      .groupBy(col("__src"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("__t"), length(col("__w")).cast("long"))).as("n_subwords"),
        sum(length(col("__w")).cast("long")).as("n_chars"))
      .select(col("__src").as(sourceCol), col("n_words"), col("n_subwords"), col("n_chars"),
        expr("n_subwords * 1000 div n_words").as("fertility_milli"),
        expr("n_chars * 1000 div n_subwords").as("chars_per_token_milli"))
  }

  /**
   * Dyadic count-min sketch over an integer value column — the RANGE-query /
   * rank / quantile member of the sketch family (Cormode & Muthukrishnan
   * 2005 §4.2): one [[cmsSketch]] per dyadic level ℓ, keyed by the value's
   * level-ℓ block `v >> ℓ`. Any range [0, y) then decomposes into ≤ `levels`
   * dyadic nodes, and rank(y) is the sum of those nodes' CMS estimates —
   * the mergeable, ≤ levels·depth·width-cell artifact that answers
   * "how many docs are shorter than y" (and by search, any quantile) over a
   * 100 TB corpus without a sort or a full histogram of the domain.
   *
   * Values are clamped to [0, 2^levels); the level-block key is hashed with
   * the same deterministic tHash + affine-row family as [[cmsSketch]], so
   * the sketch content — and every estimate — is bit-identical across
   * engines. Sketches of corpus halves merge by cell-wise sum.
   *
   * @return (l, j, b, c) — level, hash row, bucket, count
   */
  def dyadicCmsSketch(
      df: DataFrame, valueCol: String, levels: Int, width: Int, depth: Int): DataFrame = {
    requireCms(width, depth)
    require(levels >= 1 && levels <= 40, s"levels must be in [1,40], got $levels")
    val maxV = (1L << levels) - 1L
    val lv = df.where(col(valueCol).isNotNull)
      .select(least(greatest(col(valueCol).cast("long"), lit(0L)), lit(maxV)).as("__v"))
      .select(explode(expr(
        s"""transform(sequence(0, ${levels - 1}), l ->
           |  struct(CAST(l AS BIGINT) AS l,
           |         shiftright(__v, CAST(l AS INT)) AS blk))""".stripMargin)).as("lb"))
      .select(col("lb.l").as("l"), col("lb.blk").as("blk"))
    val h = pmod(TextFunctions.tHashUdf(
      concat(col("l").cast("string"), lit(":"), col("blk").cast("string"))),
      lit(2147483647L))
    lv.select(col("l"), cmsBucketRows(h, width, depth).as("rb"))
      .groupBy(col("l"), col("rb.__j").as("j"), col("rb.__b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** The dyadic cover of [0, y) within a `levels`-level domain: the ≤ levels
    * (level, block) nodes whose disjoint union is exactly [0, y) — one node
    * per set bit of y. Pure; shared BY VALUE with the oracle mirror (the
    * node list and its per-row buckets are baked into both sides). */
  def dyadicNodes(y: Long, levels: Int): Seq[(Int, Long)] = {
    require(y >= 0 && y <= (1L << levels), s"probe $y outside [0, 2^$levels]")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var x = 0L
    var l = levels - 1
    while (l >= 0) {
      val step = 1L << l
      while (x + step <= y) { out += ((l, x >> l)); x += step }
      l -= 1
    }
    out.toSeq
  }

  /**
   * Rank estimates from a [[dyadicCmsSketch]] for a FIXED probe list:
   * est_rank(y) = Σ over [[dyadicNodes]](y) of the node's CMS estimate
   * (min over hash rows) — one-sided like every CMS read: est ≥ true rank,
   * with equality when no node cell collides. The probe spine (probe, node,
   * row, bucket) is computed driver-side — it is ≤ |probes|·levels·depth
   * LITERALS, independent of corpus size — and the bounded sketch joins in;
   * the corpus is not touched at query time.
   *
   * @return (probe, est_rank) — rank counts values in [0, probe)
   */
  def cmsRankEstimates(
      sketch: DataFrame, probes: Seq[Long],
      levels: Int, width: Int, depth: Int): DataFrame = {
    requireCms(width, depth)
    require(probes.nonEmpty, "probes must be non-empty")
    val spark = sketch.sparkSession
    import spark.implicits._
    val spine = probes.flatMap { y =>
      dyadicNodes(y, levels).flatMap { case (l, blk) =>
        val h = Math.floorMod(TextFunctions.tHash(s"$l:$blk"), 2147483647L)
        (0 until depth).map(j => (y, l.toLong, blk, j.toLong, (h * CmsA(j) + CmsB(j)) % width))
      }
    }.toDF("probe", "l", "blk", "j", "b")
    spine.join(broadcast(sketch), Seq("l", "j", "b"), "left")
      .groupBy(col("probe"), col("l"), col("blk"))
      .agg(min(coalesce(col("c"), lit(0L))).as("__est"))
      .groupBy(col("probe"))
      .agg(sum(col("__est")).as("est_rank"))
  }

  /**
   * MEDIAN-ABSOLUTE-DEVIATION outlier flags — the robust-statistics
   * complement of the sigma rules in [[EventStats]]: mean/stddev are
   * themselves dragged by the outliers they should flag; median and MAD are
   * not. `flagged = |x − med| > k·MAD`, entirely on exact integers (the
   * median of an integer column is selected by rank, never averaged — for
   * even n this takes the lower-middle element, mirrored in the oracle).
   *
   * Each median is a rank selection over the unique (value, id) order via
   * the shared scale-safe [[DenseRank]] (two passes over a slim 2-column
   * relation; the 1-row medians broadcast back). The standard length-filter:
   * truncation/boilerplate floods move the mean, not the median.
   *
   * @return (idCol, valCol, dev, flagged)
   */
  def madOutliers(
      df: DataFrame, idCol: String, valCol: String, k: Long = 3L): DataFrame = {
    require(k >= 1L, s"k must be >= 1, got $k")
    val slim = df.select(col(idCol), col(valCol).cast("long").as(valCol))
    def medianOf(d: DataFrame, c: String): DataFrame = {
      val ranked = DenseRank.appendIndex(d, Seq(col(c).asc, col(idCol).asc), "__rk",
        startAt = 1L, failOnNullCol = Some(idCol))
      val n = d.agg(count(lit(1)).as("__n"))
      ranked.crossJoin(broadcast(n))
        .filter(col("__rk") === expr("(__n + 1L) div 2L"))
        .select(col(c).as("__med"))
    }
    val med = medianOf(slim, valCol)
    val withDev = slim.crossJoin(broadcast(med))
      .select(col(idCol), col(valCol), abs(col(valCol) - col("__med")).as("dev"))
    val mad = medianOf(withDev.select(col(idCol), col("dev")), "dev")
      .select(col("__med").as("__mad"))
    withDev.crossJoin(broadcast(mad))
      .select(col(idCol), col(valCol), col("dev"),
        (col("dev") > lit(k) * col("__mad")).as("flagged"))
  }

  /**
   * Scale-safe QUANTILE BINNING: bucket = `rank·buckets div n` over the
   * unique (score desc, id asc) total order — `ntile()` without `ntile`'s
   * scale trap (a partition-less window funnels the whole table through one
   * task; the shared [[DenseRank]] range-partition + zipWithIndex rank keeps
   * every stage distributed). The feature-engineering staple: decile flags
   * for stratified eval splits, threshold sweeps, quality-tier routing.
   *
   * Bucket sizes differ by at most one; the mapping is deterministic because
   * the order key is unique. @return (idCol, scoreCol, bucket ∈ [0, buckets)).
   */
  def quantileBuckets(
      df: DataFrame, idCol: String, scoreCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // cut the (often expensive) score expression ONCE: the range partitioner's
    // sampling pass, the sort shuffle, and the count would each re-evaluate it
    val slim = df.select(col(idCol), col(scoreCol)).localCheckpoint()
    val ranked = DenseRank.appendIndex(slim,
      Seq(col(scoreCol).desc, col(idCol).asc), "__rk",
      failOnNullCol = Some(idCol))
    val tot = slim.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .select(col(idCol), col(scoreCol),
        expr(s"__rk * ${buckets}L div __n").as("bucket"))
  }

  /**
   * SKETCH-DERIVED stopword ratio — the composed pipeline the CMS family
   * exists for: the corpus' own [[cmsTopTokens]] heavy hitters BECOME the
   * stopword list (no hand-curated list needed per language/domain), and
   * every document is scored by the fraction of its tokens in that list.
   * High ratio = glue-word prose (normal), low = keyword salad / code /
   * gibberish — a quality feature derived entirely from the data.
   *
   * The ratio is an exact integer micro-unit division (`n_stop·10⁶ div
   * n_tokens`), so no float crosses an engine boundary. Scale shape: the
   * heavy-hitter list is topK rows (broadcast); the corpus streams through
   * one explode + broadcast join + doc-keyed aggregation — the sketched
   * first pass never re-runs at query time in the persisted deployment.
   *
   * @return (idCol, n_tokens, n_stop, stop_micro); zero-token docs absent.
   */
  def derivedStopwordRatio(
      docs: DataFrame, idCol: String, textCol: String,
      width: Int = 1024, depth: Int = 4, topK: Int = 50): DataFrame = {
    val stop = cmsTopTokens(docs, textCol, width, depth, topK)
      .select(col("word"), lit(1L).as("__stop"))
    docs.select(col(idCol).as("__id"), explode(wordsCol(col(textCol))).as("word"))
      .join(broadcast(stop), Seq("word"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__stop"), lit(0L))).as("n_stop"))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_stop"),
        expr("n_stop * 1000000L div n_tokens").as("stop_micro"))
  }

  /**
   * POPULATION STABILITY INDEX drift monitor — THE snapshot-to-snapshot
   * distribution-shift number a crawl pipeline watches per field: bin both
   * corpora with [[exactHistogram]]'s clamped-edge rule, add-one-smooth the
   * bin masses (so empty bins cannot divide by zero), and report the
   * per-bin PSI contribution `(q − p)·ln(q/p)` plus the masses themselves.
   * Sum psi_micro over bins for the headline PSI (<0.1 stable / 0.1–0.25
   * drifting / >0.25 shifted, the conventional bands, in micro-units).
   *
   * Integer contract (reduction-order-proof, oracle-mirrored): smoothed
   * masses are BIGINT micro-units `(c+1)·10⁶ div (n+nBins)` (`microMass`);
   * the log ratio is quantized micro-nats `floor((ln q − ln p)·10⁶)` of
   * those exact integers; the contribution `(q − p)·dln div 10⁶`
   * (`psiMicro`) is a product of same-sign factors, so it is non-negative
   * and `div`-vs-floor-proof. Scale shape: both corpora scan once into one
   * checkpointed ≤ nBins-row bin table (`twoSideBins`); totals ride a 1-row
   * broadcast cross join; output is exactly nBins rows.
   *
   * @return (bin, n_base, n_cur, base_micro, cur_micro, psi_micro)
   */
  def psiDrift(
      base: DataFrame, cur: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame =
    twoSideBins(base, cur, valueCol, lo, hi, nBins)
      .select(col("bin"), col("nb").as("n_base"), col("nc").as("n_cur"),
        microMass(col("nb"), col("__tb"), nBins).as("base_micro"),
        microMass(col("nc"), col("__tc"), nBins).as("cur_micro"))
      .withColumn("psi_micro", psiMicro(col("cur_micro"), col("base_micro")))

  /** THE two-side bin table of [[psiDrift]] and [[ksDrift]]: every bin of
    * [0, nBins) with its base and current counts and both sides' totals,
    * `(bin, nb, nc, __tb, __tc)`. Both inputs are reduced to the value (as a
    * double) plus a side literal, unioned, and counted by ONE conditional
    * aggregation over `binOf` (null and NaN dropped); that nBins-bounded
    * table is read by the totals and the densify join, so it is
    * checkpointed once and each input scans once. */
  private def twoSideBins(
      base: DataFrame, cur: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    requireBins(lo, hi, nBins)
    def side(df: DataFrame, isBase: Boolean) =
      df.select(col(valueCol).cast("double").as("__v"), lit(isBase).as("__base"))
    val counts = side(base, isBase = true).union(side(cur, isBase = false))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .groupBy(binOf(col("__v"), lo, hi, nBins).as("bin"))
      .agg(sum(when(col("__base"), 1L).otherwise(0L)).as("__nb"),
        sum(when(col("__base"), 0L).otherwise(1L)).as("__nc"))
      .localCheckpoint()
    val tot = counts.agg(coalesce(sum(col("__nb")), lit(0L)).as("__tb"),
      coalesce(sum(col("__nc")), lit(0L)).as("__tc"))
    base.sparkSession.range(nBins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bin"), coalesce(col("__nb"), lit(0L)).as("nb"),
        coalesce(col("__nc"), lit(0L)).as("nc"), col("__tb"), col("__tc"))
  }

  /**
   * RANK-BLEND quality ensemble — combine heterogeneous quality signals
   * WITHOUT score normalization (the reciprocal-rank-fusion stance applied
   * to filtering): each signal contributes its global rank under its own
   * "better" direction, and the ensemble is the rank sum (lower = better).
   * Rank blending is immune to the scale/outlier pathologies of z-scoring
   * a bounded ratio against an unbounded perplexity. Ranks come from the
   * shared [[DenseRank]] range-partition index — never a partition-less
   * window — and the (signal, id) total order makes every rank
   * deterministic; null signal values fail fast (a silent nulls-first rank
   * would corrupt the blend).
   *
   * @param signals (columnName, higherIsBetter) per signal
   * @return (idCol, r_<col> per signal, rank_sum)
   */
  def ensembleRank(
      df: DataFrame, idCol: String, signals: Seq[(String, Boolean)]): DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    val slim = df.select((col(idCol) +: signals.map(s => col(s._1))): _*)
      .localCheckpoint(true)
    var out = slim.select(col(idCol))
    signals.foreach { case (c, higherIsBetter) =>
      val ord =
        if (higherIsBetter) Seq(col(c).desc, col(idCol).asc)
        else Seq(col(c).asc, col(idCol).asc)
      val rk = DenseRank.appendIndex(slim.select(col(idCol), col(c)), ord, s"r_$c",
          failOnNullCol = Some(c))
        .select(col(idCol), col(s"r_$c"))
      out = out.join(rk, Seq(idCol))
    }
    out.withColumn("rank_sum", signals.map(s => col(s"r_${s._1}")).reduce(_ + _))
  }

  /**
   * ITERATIVE BPE MERGE TRAINING — the actual tokenizer-training loop
   * (Sennrich et al. 2016), not just [[bpePairCounts]]' round-1 statistic:
   * start from character sequences of the corpus' distinct words (weighted
   * by occurrence count), then for each round (1) count adjacent symbol
   * pairs, (2) pick the (count desc, pair asc) best, (3) re-segment every
   * word by GREEDY LEFTMOST NON-OVERLAPPING application of that merge, and
   * repeat on the merged symbols. Returns the learned merge table — the
   * artifact a BPE tokenizer ships.
   *
   * Scale shape: the corpus-sized work — occurrence counting over every
   * word of every document — is ONE distributed aggregation; the merge loop
   * then runs on the DISTINCT-vocabulary symbol sequences, whose size is
   * vocabulary-bounded, not corpus-bounded (see the in-method comment for
   * why that loop is deliberately driver-side behind a maxVocab guard, and
   * `minCount` for the standard rare-word pruning cap).
   *
   * Determinism/oracle contract: counts are exact integer sums of BIGINT
   * word frequencies with the (count desc, pair asc) tie-break; the oracle
   * recomputes every round's best pair itself (no parameter smuggling) and
   * applies it with sequence-index gaps-and-islands windows whose greedy
   * leftmost-non-overlapping semantics exactly match the scan here.
   *
   * @return (merge_round 1..nMerges, sym_a, sym_b, merged, cnt)
   */
  def bpeTrainMerges(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 1L, maxVocab: Int = 2000000): DataFrame = {
    val (out, _, _) = bpeTrainCore(docs, textCol, nMerges, minCount, maxVocab)
    import docs.sparkSession.implicits._
    out.toDF("merge_round", "sym_a", "sym_b", "merged", "cnt")
  }

  /**
   * The APPLY face of [[bpeTrainMerges]]: train `nMerges` merges, then emit
   * the final segmentation of every vocabulary word under them — the
   * word → subword-tokens table a downstream encoder broadcast-joins against
   * the corpus (segmentation is per-word, so encoding any number of
   * documents is a pure map over this vocabulary-bounded table). `seg` is
   * the space-joined symbol sequence; `n_tokens` its length.
   *
   * @return (word, n, n_tokens, seg)
   */
  def bpeSegmentWords(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 1L, maxVocab: Int = 2000000): DataFrame = {
    val (_, wc, seqs) = bpeTrainCore(docs, textCol, nMerges, minCount, maxVocab)
    import docs.sparkSession.implicits._
    wc.indices.map { i =>
      (wc(i)._1, wc(i)._2, seqs(i).length.toLong, seqs(i).mkString(" "))
    }.toDF("word", "n", "n_tokens", "seg")
  }

  /**
   * Corpus ENCODING under the learned merges — the end of the BPE chain:
   * explode each document's word occurrences, broadcast-join the
   * vocabulary-bounded [[bpeSegmentWords]] table, and reduce per document.
   * This is the exact scale shape of production tokenization: the corpus is
   * scanned once, the segmentation rides a broadcast, and the only exchange
   * is the per-document aggregation. Words below `minCount` (absent from
   * the trained vocabulary) count their character length — the
   * fall-back-to-chars convention. Documents with no words are absent.
   *
   * @return (idCol, n_words, n_subwords)
   */
  def bpeEncodeStats(
      docs: DataFrame, idCol: String, textCol: String, nMerges: Int,
      minCount: Long = 1L, maxVocab: Int = 2000000): DataFrame = {
    val seg = bpeSegmentWords(docs, textCol, nMerges, minCount, maxVocab)
      .select(col("word").as("__w"), col("n_tokens").as("__t"))
    docs.select(col(idCol).as("__id"), explode(wordsCol(col(textCol))).as("__w"))
      .join(broadcast(seg), Seq("__w"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("__t"), length(col("__w")).cast("long"))).as("n_subwords"))
      .select(col("__id").as(idCol), col("n_words"), col("n_subwords"))
  }

  private def bpeTrainCore(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long, maxVocab: Int)
      : (Seq[(Long, String, String, String, Long)], Array[(String, Long)], Array[Array[String]]) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    // The CORPUS-scale pass — word occurrence counting — is the one
    // distributed aggregation. The training state itself (symbol sequences
    // of the distinct vocabulary) is vocabulary-bounded, not corpus-bounded:
    // the size-guarded collect below is the same stance as the PQ/IVF
    // codebook training collects, and is what every production BPE trainer
    // does (the merge loop is inherently sequential — round r's counts
    // depend on round r-1's segmentation, so a relational formulation pays
    // ~10 scheduler stages per round for a vocabulary-sized relation;
    // measured 12 s/round of pure overhead on a 31-word vocabulary).
    // Corpora whose raw vocabulary exceeds maxVocab prune with minCount —
    // the cap real trainers apply for the same reason.
    val spark = docs.sparkSession
    val words = docs.select(explode(wordsCol(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minCount)
    val wcCount = words.count()
    require(wcCount <= maxVocab,
      s"distinct vocabulary $wcCount exceeds maxVocab $maxVocab — raise minCount")
    val wc = words.collect().map(r => (r.getString(0), r.getLong(1)))
    val seqs: Array[Array[String]] = wc.map(_._1.map(_.toString).toArray)
    val ns: Array[Long] = wc.map(_._2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < seqs.length) {
        val s = seqs(wi); val n = ns(wi); var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        // (count desc, pair asc) — the oracle's exact tie-break
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((r.toLong, a, b, a + b, c))
        wi = 0
        while (wi < seqs.length) {
          val s = seqs(wi)
          val nb = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            // greedy leftmost non-overlapping application
            if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
              nb += (a + b); i += 2
            } else { nb += s(i); i += 1 }
          }
          seqs(wi) = nb.toArray
          wi += 1
        }
        r += 1
      }
    }
    (out.toSeq, wc, seqs)
  }

  /**
   * UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINING — the EM-pruning
   * complement of [[bpeTrainMerges]] (Kudo 2018, "Subword Regularization"):
   * seed a large candidate-piece vocabulary from frequent substrings, then
   * alternate (E) segment the corpus under the current vocabulary and count
   * piece usage with (M/prune) keep the top pieces by expected count,
   * shrinking the vocabulary each round (`pruneKs` is the shrink schedule).
   *
   * Deterministic variant, documented deviation from the paper: the E-step
   * decoder is GREEDY LONGEST-MATCH-FIRST (the WordPiece decoding rule)
   * rather than max-likelihood Viterbi, and piece scores are exact BIGINT
   * usage counts rather than float log-probabilities — hard-EM with a
   * deterministic decoder. Chosen because soft-EM's log-likelihoods cannot
   * be hash-gated across engines, while this variant is integer-exact and
   * SQL-mirrorable end to end (the oracle re-runs every round: seeding by
   * windowed rank, segmentation as a recursive longest-match pointer-chase,
   * pruning by the same (count desc, piece asc) rank). Single characters
   * are always kept (the coverage guarantee), so every word segments.
   *
   * Scale shape: identical to [[bpeTrainCore]] — the corpus-sized pass is
   * ONE distributed word-count aggregation; seeding, the EM rounds, and
   * segmentation run on the DISTINCT vocabulary behind the same `maxVocab`
   * collect guard (the documented driver-side codebook-training stance).
   *
   * @param maxPieceLen longest candidate piece (chars)
   * @param seedK       multi-char pieces kept at seeding (count desc, piece asc)
   * @param pruneKs     per-round keep sizes, e.g. Seq(48, 32) = two EM rounds
   *                    shrinking 64 → 48 → 32 multi-char pieces
   */
  private def ulmTrainCore(
      docs: DataFrame, textCol: String, maxPieceLen: Int, seedK: Int,
      pruneKs: Seq[Int], minCount: Long, maxVocab: Int)
      : (Array[(String, Long)], Seq[(String, Long)], Array[Array[String]]) = {
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2, got $maxPieceLen")
    require(seedK >= 1, s"seedK must be >= 1, got $seedK")
    require(pruneKs.forall(_ >= 1), s"pruneKs must be positive, got $pruneKs")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val words = docs.select(explode(wordsCol(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minCount)
    val wcCount = words.count()
    require(wcCount <= maxVocab,
      s"distinct vocabulary $wcCount exceeds maxVocab $maxVocab — raise minCount")
    val wc = words.collect().map(r => (r.getString(0), r.getLong(1)))
    val chars: Set[String] = wc.iterator.flatMap(_._1.map(_.toString)).toSet
    // seed: every substring occurrence of length 2..maxPieceLen, weighted by
    // word frequency (overlaps count — the frequency of the SPAN, the same
    // statistic the oracle's generate_series cross computes)
    val seedFreq = scala.collection.mutable.HashMap.empty[String, Long]
    wc.foreach { case (w, n) =>
      var l = 2
      while (l <= math.min(maxPieceLen, w.length)) {
        var i = 0
        while (i + l <= w.length) {
          val p = w.substring(i, i + l)
          seedFreq(p) = seedFreq.getOrElse(p, 0L) + n
          i += 1
        }
        l += 1
      }
    }
    def topK(m: Iterable[(String, Long)], k: Int): Seq[String] =
      m.toSeq.sortBy { case (p, c) => (-c, p) }.take(k).map(_._1)
    var multi: Seq[String] = topK(seedFreq, seedK)
    def segment(vocab: Set[String]): Array[Array[String]] = wc.map { case (w, _) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        var l = math.min(maxPieceLen, w.length - pos)
        while (l > 1 && !vocab.contains(w.substring(pos, pos + l))) l -= 1
        out += w.substring(pos, pos + l) // l = 1 always matches (chars ⊆ vocab)
        pos += l
      }
      out.toArray
    }
    def usage(segs: Array[Array[String]]): Map[String, Long] = {
      val u = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i < segs.length) {
        val n = wc(i)._2
        segs(i).foreach(p => u(p) = u.getOrElse(p, 0L) + n)
        i += 1
      }
      u.toMap
    }
    pruneKs.foreach { k =>
      val segs = segment(chars ++ multi)
      val u = usage(segs)
      // rank EVERY current multi-char piece, unused ones at 0 — mirror of the
      // oracle's vocab LEFT JOIN usage COALESCE 0
      multi = topK(multi.map(p => (p, u.getOrElse(p, 0L))), k)
    }
    val finalSegs = segment(chars ++ multi)
    val finalUse = usage(finalSegs)
    val pieces = (chars.toSeq ++ multi).distinct.sorted
      .map(p => (p, finalUse.getOrElse(p, 0L)))
    (wc, pieces, finalSegs)
  }

  /** Learned unigram-LM vocabulary with final-segmentation usage counts —
    * the artifact face of [[ulmTrainCore]] (the [[bpeTrainMerges]]
    * analogue). @return (piece, plen, cnt); cnt = 0 for coverage chars the
    * final segmentation never uses. */
  def ulmPieces(
      docs: DataFrame, textCol: String, maxPieceLen: Int = 4, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 32), minCount: Long = 1L,
      maxVocab: Int = 2000000): DataFrame = {
    val (_, pieces, _) = ulmTrainCore(docs, textCol, maxPieceLen, seedK, pruneKs,
      minCount, maxVocab)
    import docs.sparkSession.implicits._
    pieces.map { case (p, c) => (p, p.length.toLong, c) }.toDF("piece", "plen", "cnt")
  }

  /** The APPLY face of [[ulmTrainCore]] — final greedy longest-match
    * segmentation of every vocabulary word under the learned pieces (the
    * [[bpeSegmentWords]] analogue; same broadcast-join encode shape
    * downstream). @return (word, n, n_tokens, seg) */
  def ulmSegmentWords(
      docs: DataFrame, textCol: String, maxPieceLen: Int = 4, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 32), minCount: Long = 1L,
      maxVocab: Int = 2000000): DataFrame = {
    val (wc, _, segs) = ulmTrainCore(docs, textCol, maxPieceLen, seedK, pruneKs,
      minCount, maxVocab)
    import docs.sparkSession.implicits._
    wc.indices.map { i =>
      (wc(i)._1, wc(i)._2, segs(i).length.toLong, segs(i).mkString(" "))
    }.toDF("word", "n", "n_tokens", "seg")
  }

  /**
   * KOLMOGOROV–SMIRNOV-style drift check over [[psiDrift]]'s two-side bin
   * table — the complementary read: PSI weights every bin's shift,
   * KS reports the single worst CDF gap, catching a localized shift PSI
   * smears out. `ks_micro = max_bin |cumP − cumQ|` with both CDFs as exact
   * BIGINT micro-units (`cum·10⁶ div n`); `at_bin` is the smallest bin
   * attaining the max. All window work runs on the ≤ nBins aggregated
   * relation — never on corpus rows.
   *
   * @return ONE row: (n_base, n_cur, ks_micro, at_bin)
   */
  def ksDrift(
      base: DataFrame, cur: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cumW = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    twoSideBins(base, cur, valueCol, lo, hi, nBins)
      .withColumn("__cb", sum(col("nb")).over(cumW))
      .withColumn("__cc", sum(col("nc")).over(cumW))
      .withColumn("__gap", abs(expr("__cb * 1000000L div greatest(__tb, 1L)") -
        expr("__cc * 1000000L div greatest(__tc, 1L)")))
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__gap").desc, col("bin").asc)))
      .where(col("__rn") === 1)
      .select(col("__tb").as("n_base"), col("__tc").as("n_cur"),
        col("__gap").as("ks_micro"), col("bin").as("at_bin"))
  }

  /**
   * Per-GROUP PSI — [[psiDrift]] with each group's distribution compared
   * against the WHOLE corpus (the "which source drifted" rollup a crawl
   * dashboard shows): one row per group, psi summed over bins, exact
   * BIGINT throughout. Everything past the two bin aggregations runs on
   * ≤ |groups|·nBins rows.
   *
   * @return (groupCol, n_docs, psi_micro) — psi of the group's value
   *         distribution vs the corpus-wide one
   */
  def psiDriftByGroup(
      df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    requireBins(lo, hi, nBins)
    val binnedRows = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull && !isnan(col("__v")))
      .select(col("__g"), binOf(col("__v"), lo, hi, nBins).as("bin"))
    // (groups × nBins)-bounded, checkpointed: the corpus-wide bins and the
    // per-group totals are its own rollups, so the input scans once (r17)
    val perGroup = binnedRows.groupBy(col("__g"), col("bin")).agg(count(lit(1)).as("__ng"))
      .localCheckpoint()
    val corpus = perGroup.groupBy(col("bin")).agg(sum(col("__ng")).as("__nc"))
    val totals = perGroup.groupBy(col("__g")).agg(sum(col("__ng")).as("__tg"))
    val tc = corpus.agg(coalesce(sum(col("__nc")), lit(0L)).as("__tc"))
    val spine = totals.crossJoin(
      df.sparkSession.range(nBins).select(col("id").as("bin")))
    spine
      .join(perGroup, Seq("__g", "bin"), "left")
      .join(broadcast(corpus), Seq("bin"), "left")
      .crossJoin(broadcast(tc))
      .select(col("__g"), col("bin"), col("__tg"),
        coalesce(col("__ng"), lit(0L)).as("ng"),
        coalesce(col("__nc"), lit(0L)).as("nc"), col("__tc"))
      .withColumn("base_micro", microMass(col("nc"), col("__tc"), nBins))
      .withColumn("cur_micro", microMass(col("ng"), col("__tg"), nBins))
      .withColumn("__psi", psiMicro(col("cur_micro"), col("base_micro")))
      .groupBy(col("__g"))
      .agg(max(col("__tg")).as("n_docs"), sum(col("__psi")).as("psi_micro"))
      .select(col("__g").as(groupCol), col("n_docs"), col("psi_micro"))
  }

  /**
   * HASHED LINEAR TEXT-MODEL INFERENCE — the fastText-classifier /
   * hashing-trick scoring shape, as one operator: each word maps to a
   * bucket in `[0, dim)` via the library's deterministic [[TextFunctions.tHash]],
   * the model is ONE `(bucket, w_micro)` weight table, and a document's
   * score is the exact integer mean `Σ w_micro[bucket(word)] div n_tokens`
   * (micro-units).
   *
   * This is the INFERENCE half of a learned quality / toxicity / topic
   * classifier: train anywhere (fastText, sklearn, a GPU job), export one
   * hashed-bucket weight row per feature, then score 100 TB of text with a
   * broadcast join (the weight table is ≤ `dim` rows by construction —
   * never corpus-sized) plus one doc-key aggregation. The corpus text is
   * read once; only `(doc, bucket)` pairs exist pre-aggregation, and the
   * single exchange is on the doc key. OOV is impossible by construction
   * (hashing covers every word); buckets absent from a sparse weight table
   * contribute 0. Documents with zero extractable words are absent from the
   * output (the corpus-wide explode convention).
   *
   * Integer contract: `n_tokens`, the weight sum, and the truncating-div
   * mean are all BIGINT-exact, so scores are reduction-order-proof and
   * hash-comparable across engines; keep weights non-negative if the
   * `div`-vs-floor distinction on negatives matters to a mirror.
   *
   * @param weights (bucket: BIGINT in [0, dim), w_micro: BIGINT) — rows with
   *                out-of-range buckets simply never match
   * @return (idCol, n_tokens, w_sum, score_micro)
   */
  def linearTextScore(
      docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(weights.columns.contains("bucket") && weights.columns.contains("w_micro"),
      s"weights needs (bucket, w_micro), got ${weights.columns.mkString(",")}")
    docs.select(col(idCol).as("__id"), explode(wordsCol(col(textCol))).as("__w"))
      .select(col("__id"),
        pmod(TextFunctions.tHashUdf(col("__w")), lit(dim.toLong)).as("bucket"))
      .join(broadcast(weights.select(col("bucket").cast("long").as("bucket"),
        col("w_micro").cast("long").as("w_micro"))), Seq("bucket"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w_micro"), lit(0L))).as("w_sum"))
      .select(col("__id").as(idCol), col("n_tokens"), col("w_sum"),
        expr("w_sum div n_tokens").as("score_micro"))
  }

  /**
   * Per-document LINE-repetition report — the Gopher §A1.2 in-document
   * repetition signals at line granularity (Rae et al. 2021 filter docs by
   * "duplicate line fraction" and "duplicate line character fraction"): a
   * line occurrence is a DUPLICATE if an identical non-empty line occurred
   * earlier in the same document. Scored, not cut — the filtering
   * counterpart of [[Dedup.lineDedupWithinDoc]] (cut) for threshold sweeps.
   *
   * Exactness: both fractions are integer-milli via BIGINT `div` — no float
   * reduction anywhere, so the report hashes bit-identically on any engine
   * and any partitioning.
   *
   * Scale shape: one aggregation keyed by (doc, line digest) — text leaves
   * the scan as (id, digest, length) triples only — then one doc-key
   * aggregation; both exchanges linear, nothing corpus-global.
   *
   * @return one row per doc with ≥ 1 NON-empty line — a doc whose text is
   *         all-empty lines (e.g. "\n\n") emits no row: (idCol, n_lines, dup_lines,
   *         dup_line_milli, dup_char_milli) where n_lines counts NON-empty
   *         lines, dup_lines = occurrences beyond each first, and the char
   *         fraction weights each duplicate occurrence by its length over
   *         the total non-empty-line chars.
   */
  def lineRepetitionReport(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("__ln"))
      .where(length(col("__ln")) > 0)
      .select(col("__id"), md5(col("__ln")).as("__h"), length(col("__ln")).cast("long").as("__l"))
      .groupBy(col("__id"), col("__h"))
      .agg(count(lit(1)).as("__c"), first(col("__l")).as("__l"))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_lines"),
        sum(col("__c") - 1).as("dup_lines"),
        sum((col("__c") - 1) * col("__l")).as("__dupchars"),
        sum(col("__c") * col("__l")).as("__chars"))
      .select(col("__id").as(idCol), col("n_lines"), col("dup_lines"),
        expr("dup_lines * 1000 div n_lines").as("dup_line_milli"),
        expr("CASE WHEN __chars > 0 THEN __dupchars * 1000 div __chars ELSE 0 END")
          .as("dup_char_milli"))

  /**
   * STUPID BACKOFF bigram LM scoring (Brants et al. 2007 — the smoothing
   * web-scale LMs actually shipped: no discounting, a fixed backoff factor
   * α, chosen because it needs only raw counts and therefore distributes):
   * the model trains on the `trainFilter` slice, every doc is scored as the
   * mean per-bigram cost
   *
   *   cost(w | v) = −ln( c(v,w) / c(v) )                 if c(v,w) > 0
   *               = −ln( α · (c(w)+1) / (N+V) )          otherwise
   *
   * (the backoff path takes the add-one unigram so out-of-vocabulary words
   * stay finite). Costs are floored to integer micro-nats per DISTINCT
   * bigram BEFORE the per-doc sum — `microNats`, so
   * reduction order cannot perturb the result and the SQL oracle mirrors
   * bit-exactly.
   *
   * Scale shape: the model is vocabulary²-bounded (bigram cost relation
   * shuffles once on the bigram key, unigram fallback broadcasts with the
   * totals); the corpus streams through one adjacent-pair explode + two
   * joins + one doc-keyed agg — no per-doc state, no windows.
   *
   * @return (idCol, n_bigrams, sbo_xent mean micro-nat cost / 1e6 rounded
   *         to 4) — docs with < 2 words are absent.
   */
  def stupidBackoffLogLoss(
      docs: DataFrame, idCol: String, textCol: String,
      trainFilter: Column,
      alphaMilli: Int = 400): DataFrame = {
    require(alphaMilli > 0 && alphaMilli <= 1000,
      s"alphaMilli must be in (0, 1000], got $alphaMilli")
    // (__id, context __v, word __w) per adjacent word pair
    def bigrams(df: DataFrame) =
      df.select(col(idCol).as("__id"), wordsCol(col(textCol)).as("__ws"))
        .select(col("__id"), explode(wordGrams(col("__ws"), 2)).as("__p"))
        .select(col("__id"), col("__p.w1").as("__v"), col("__p.w2").as("__w"))
    val pairs = bigrams(docs)
    val train = docs.filter(trainFilter)
    // vocab-sized with THREE consumers (totals, seen-bigram context join,
    // fallback table) — uncut, each re-ran the train tokenize (r17)
    val uni = train.select(explode(wordsCol(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__cw")).localCheckpoint()
    val tot = uni.agg(sum(col("__cw")).as("__N"), count(lit(1)).as("__V"))
    val big = bigrams(train).groupBy(col("__v"), col("__w")).agg(count(lit(1)).as("__cvw"))
    val seen = big.join(uni.select(col("__w").as("__v"), col("__cw").as("__cv")), "__v")
      .select(col("__v"), col("__w"),
        microNats(-log(col("__cvw").cast("double") / col("__cv").cast("double"))).as("__q"))
    val alpha = alphaMilli.toDouble / 1000.0
    val fallback = uni.crossJoin(broadcast(tot))
      .select(col("__w"),
        microNats(-log(lit(alpha) * (col("__cw") + 1).cast("double") /
          (col("__N") + col("__V")).cast("double"))).as("__qf"))
    val oov = tot.select(
      microNats(-log(lit(alpha) / (col("__N") + col("__V")).cast("double"))).as("__qo"))
    pairs.join(seen, Seq("__v", "__w"), "left")
      .join(fallback, Seq("__w"), "left")
      .crossJoin(broadcast(oov))
      .select(col("__id"), coalesce(col("__q"), col("__qf"), col("__qo")).as("__c"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__c")).as("__s"))
      .select(col("__id").as(idCol), col("n_bigrams"), microMean(col("n_bigrams")).as("sbo_xent"))
  }

  /**
   * RAKE TOP PHRASE per document (Rose et al. 2010 — the classic unsupervised
   * keyword extractor): candidate phrases are maximal runs of non-stopwords
   * (stopwords = the corpus' own top-`nStopwords` tokens, count desc / word
   * asc — the CMS-derived-stopword stance with an exact count); word score =
   * degree/frequency where degree sums the lengths of the phrases each
   * occurrence sits in; phrase score = Σ member-occurrence word scores.
   * Integer-milli word scores (deg·1000 DIV freq) keep the ranking
   * engine-exact. One phrase per doc, ties (score desc, phrase asc).
   *
   * Scale shape: the stopword list is a broadcast top-N; everything else is
   * doc-partitioned windows + doc-keyed aggregations over the word explode —
   * no corpus-global state beyond the N-row list.
   *
   * @return (idCol, phrase, score_milli) — docs whose words are all
   *         stopwords (or empty) are absent.
   */
  def rakeTopPhrase(
      df: DataFrame, idCol: String, textCol: String,
      nStopwords: Int = 8): DataFrame =
    rakePhrases(df, idCol, textCol, nStopwords, 1)
      .select(col(idCol), col("phrase"), col("score_milli"))

  /** Top-`k` face of [[rakeTopPhrase]]: the per-doc KEYPHRASE LIST, ranked
    * (score desc, phrase asc) — what a tagging/indexing pipeline stores.
    * @return (idCol, rank 1..k, phrase, score_milli) */
  def rakePhrases(
      df: DataFrame, idCol: String, textCol: String,
      nStopwords: Int = 8, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nStopwords >= 0, s"nStopwords must be >= 0, got $nStopwords")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = df.select(col(idCol).as("__id"),
      posexplode(wordsCol(col(textCol))).as(Seq("__p", "__w")))
    val stop = w.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc).limit(nStopwords)
      .select(col("__w"), lit(1).as("__stop"))
    val win = Window.partitionBy(col("__id")).orderBy(col("__p"))
    val isl = w.join(broadcast(stop), Seq("__w"), "left")
      .filter(col("__stop").isNull)
      .withColumn("__isl", col("__p") - row_number().over(win))
    // Per-group quantities as WINDOWS over the one doc-keyed exchange (r17):
    // the former groupBy(plen)/groupBy(wsc) + join-back shape re-shuffled
    // and re-joined the token relation three times; hash(__id) partitioning
    // already clusters every sub-key ((__id,__isl), (__id,__w)), so the
    // window forms attach the IDENTICAL per-group values (count/sum over a
    // group is the same number on every member row) with zero further
    // exchanges and no joins — text_keyphrases 30 → 6 Exchange nodes.
    val wPhrase = Window.partitionBy(col("__id"), col("__isl"))
    val wWord = Window.partitionBy(col("__id"), col("__w"))
    val occ = isl.withColumn("__plen", count(lit(1)).over(wPhrase))
      .withColumn("__sumplen", sum(col("__plen")).over(wWord))
      .withColumn("__cnt", count(lit(1)).over(wWord))
      .withColumn("__wsc", expr("__sumplen * 1000 DIV __cnt"))
    val top = Window.partitionBy(col("__id"))
      .orderBy(col("score_milli").desc, col("phrase").asc)
    occ
      .groupBy(col("__id"), col("__isl"))
      .agg(sum(col("__wsc")).as("score_milli"),
        expr("array_join(transform(sort_array(collect_list(struct(__p, __w))), " +
          "x -> x.__w), ' ')").as("phrase"))
      .withColumn("rank", row_number().over(top)).filter(col("rank") <= k)
      .select(col("__id").as(idCol), col("rank").cast("long").as("rank"),
        col("phrase"), col("score_milli"))
  }

  /**
   * PER-GROUP QUANTILE NORMALIZATION of a metric — the fair-filtering move
   * when a raw threshold would empty some sources (length/quality
   * distributions differ per source; normalizing to within-source quantile
   * rank makes "drop the bottom decile" mean the bottom decile OF EACH
   * source): qnorm_milli = (rank − 1) · 1000 DIV (n_group − 1), rank =
   * RANK() over the group by (value asc, ties share a rank), 0 for
   * single-row groups. Integer-exact; null metric rows are dropped.
   *
   * Scale shape: one group-partitioned window (WindowGroupLimit-free full
   * window, but the partition key is the group — the natural parallelism)
   * plus the group-size join, both on the same exchange.
   *
   * @return (idCol, groupCol, valCol, qnorm_milli)
   */
  def groupQuantileNorm(
      df: DataFrame, idCol: String, valCol: String, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valCol).asc)
    df.filter(col(valCol).isNotNull && col(groupCol).isNotNull)
      .select(col(idCol), col(groupCol), col(valCol))
      .withColumn("__r", rank().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .select(col(idCol), col(groupCol), col(valCol),
        when(col("__n") > 1L, expr("(__r - 1) * 1000 DIV (__n - 1)"))
          .otherwise(lit(0L)).as("qnorm_milli"))
  }
}
