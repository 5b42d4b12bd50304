package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, Trigrams}
import graft.functions.TextFunctions._
import graft.operators._
import graft.streaming.EventWindows

/**
 * Driver contract: one registered query (+ DuckDB oracle SQL) per implemented
 * operator — SURVEY.md §2 reference-parity surface plus the LLM-data-pipeline
 * operators (dedup / similarity search / text analysis / multimodal).
 *
 * Column names and value formulas are mirrored 1:1 between each query and its
 * oracle (see [[Oracles]]); non-associative double reductions are rounded
 * identically on both sides.
 */
object SparkEntry {

  /** Monotonic per-JVM nonce for scratch-dir names (see `source_orc`). */
  private val orcRunNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  private def rd(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** The deterministic paragraph-ization shared by every line-granularity
    * gate (dedup_paragraph, dedup_lines_within, text_rep_lines): the
    * single-line synthetic corpus re-lined as 10-word chunks joined by
    * newlines, so near-dup docs share real paragraphs and cut paths run. */
  private def paragraphized(spark: SparkSession, dir: String): DataFrame =
    rd(spark, dir, "documents")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("__ws"))
      .where(size(col("__ws")) > 0)
      .select(col("doc_id"), expr(
        "array_join(transform(sequence(0, CAST((size(__ws) + 9) DIV 10 AS INT) - 1), " +
        "g -> array_join(slice(__ws, g * 10 + 1, 10), ' ')), '\n')").as("ptext"))

  /** Flagship query on sf=0.001: full similarity self-join of part names. */
  def entry(spark: SparkSession): DataFrame = {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    SimJoin.simJoin(part, part,
      SimJoinOptions(on = Some("p_name"), topN = 3, indexBy = Some("p_partkey")))
  }

  /** One entry per implemented operator from SURVEY.md §2 + pipeline extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference-parity surface: the simJoin operator family -------------
    // token-array form: WORD-level similarity join (caller-supplied tokens —
    // the generalization past the reference's fixed char trigrams)
    "simjoin_words" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
        .select(col("p_partkey"), TextFunctions.wordsCol(col("p_name")).as("toks"))
      SimJoin.keyedPairsTokens(part, "p_partkey", "toks", part, "p_partkey", "toks",
          topN = 3, outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "simjoin_l2" -> ((s, dir) => {
      val part = rd(s, dir, "part")
      SimJoin.keyedPairs(part, "p_partkey", "p_name", part, "p_partkey", "p_name",
          SimJoinOptions(topN = 3, normalization = "l2", strategy = "dedup"),
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "simjoin_count" -> ((s, dir) => {
      val part = rd(s, dir, "part")
      SimJoin.keyedPairs(part, "p_partkey", "p_name", part, "p_partkey", "p_name",
          SimJoinOptions(topN = 5, normalization = "count", strategy = "dedup"),
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "simjoin_top1" -> ((s, dir) => {
      val part = rd(s, dir, "part")
      SimJoin.keyedPairs(part, "p_partkey", "p_name", part, "p_partkey", "p_name",
          SimJoinOptions(topN = 1, normalization = "l2", strategy = "dedup"),
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "simjoin_direct" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
      SimJoin.keyedPairs(part, "p_partkey", "p_name", part, "p_partkey", "p_name",
          SimJoinOptions(topN = 3, normalization = "l2", strategy = "direct"),
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    // the encode-once form: build the trigram postings index ONCE, join from
    // postings alone — bit-identical to simjoin_direct (same oracle)
    "simjoin_indexed" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
      val idx = SimJoin.trigramIndex(part, "p_partkey", "p_name")
      SimJoin.pairsFromIndex(idx, idx,
          SimJoinOptions(topN = 3, normalization = "l2"))
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "simjoin_kernel" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
      SimJoin.keyedPairs(part, "p_partkey", "p_name", part, "p_partkey", "p_name",
          SimJoinOptions(topN = 3, normalization = "l2", strategy = "kernel"),
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    // the same kernel as a FIRST-CLASS PLANNER OPERATOR: SimKernelJoin
    // logical node -> SimKernelStrategy -> SimKernelExec (shared core)
    "simjoin_plan" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
      graft.plans.SimKernelPlan.keyedPairs(
          part, "p_partkey", "p_name", part, "p_partkey", "p_name",
          SimJoinOptions(topN = 3, normalization = "l2"),
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "pairs_raw" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
      SimJoin.pairs(part, part,
        SimJoinOptions(on = Some("p_name"), topN = 3, strategy = "direct",
          indexBy = Some("p_partkey")))
    }),
    "simjoin_full" -> ((s, dir) => {
      val part = rd(s, dir, "part")
      SimJoin.simJoin(part, part,
        SimJoinOptions(on = Some("p_name"), topN = 2, indexBy = Some("p_partkey")))
    }),
    "word_normalization" -> ((s, dir) => {
      SimJoin.normalizeStringCol(rd(s, dir, "part"), "p_name")
        .select(col("p_partkey"), col("p_name_normalized"))
    }),
    "simjoin_left" -> ((s, dir) => {
      // how="left" extension with a REAL matched/unmatched mix: the left key
      // is a sparse regexp extract — empty for ~75% of rows (zero trigrams →
      // no candidate → null-padded), 'gizmo'/'widget' for the rest (matched) —
      // so the gate covers BOTH branches of the left assembly
      val part = rd(s, dir, "part")
      SimJoin.simJoin(
        part.select(col("p_partkey"),
          regexp_extract(col("p_name"), "gizmo|widget", 0).as("probe")),
        part.filter(col("p_partkey") < 300).select(col("p_partkey"), col("p_name")),
        SimJoinOptions(leftOn = Some("probe"), rightOn = Some("p_name"), topN = 2,
          indexBy = Some("p_partkey"), how = "left"))
    }),
    "simjoin_wordnorm" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 300)
        .select("p_partkey", "p_name")
      SimJoin.simJoin(part, part,
          SimJoinOptions(on = Some("p_name"), topN = 2, strategy = "direct",
            applyWordNormalization = true, addMapping = false, addSimilarity = true,
            indexBy = Some("p_partkey")))
        .select(col("p_partkey"), col("p_name"), col("sim"),
          col("p_partkey_right"), col("p_name_right"))
    }),
    "trigram_tokens" -> ((s, dir) => {
      rd(s, dir, "part").select(col("p_partkey").as("id"),
        explode(Trigrams.tokenStringsUdf(col("p_name"))).as("tok")).distinct()
    }),
    "trigram_count" -> ((s, dir) => {
      rd(s, dir, "part").select(col("p_partkey").as("id"),
        size(Trigrams.tokensUdf(col("p_name"))).cast("long").as("n_tokens"))
    }),
    "simsearch_strings" -> ((s, dir) => {
      val part = rd(s, dir, "part")
      SimSearch.topKStrings(part.filter(col("p_partkey") < 50), "p_partkey", "p_name",
          part, "p_partkey", "p_name", 5)
        .select(col("query_id"), col("match_id"), round(col("sim"), 6).as("sim"))
    }),
    // ---- LLM-pipeline: deduplication --------------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(rd(s, dir, "documents"), "doc_id", "text")),
    // keep-best canonical rule: the duplicate group's highest-quality copy
    // survives instead of the smallest id
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBestBy(
        rd(s, dir, "documents").select(col("doc_id"), col("text"),
          qualityScoreCol(col("text")).as("quality")),
        "doc_id", "text", "quality")),
    // Crawl-to-crawl snapshot diff: added/removed/changed/unchanged by digest
    "corpus_diff" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 5 =!= 0)
      val newSnap = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(lit("rev2 "), col("text"))).otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
    }),
    // snapshot MERGE/upsert: re-crawl batch wins on key overlap, untouched
    // base rows carry over — the next-snapshot materialization (digest-slim)
    "corpus_upsert" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      val base = d.filter(col("doc_id") < 400)
        .select(col("doc_id"), md5(col("text")).as("digest"))
      val batch = d.filter(col("doc_id") >= 200)
        .select(col("doc_id"), md5(concat(lit("v2 "), col("text"))).as("digest"))
      Dedup.upsertByKey(base, batch, "doc_id")
    }),
    // Soft dedup: duplicates down-weighted (1/group), not dropped
    "dedup_soft_weights" -> ((s, dir) =>
      Dedup.softWeights(rd(s, dir, "documents"), "doc_id", "text")),
    // Per-doc novel-content fraction by shingle first-occurrence (id order)
    "doc_novelty" -> ((s, dir) =>
      Dedup.noveltyScores(rd(s, dir, "documents"), "doc_id", "text")),
    // Per-doc corpus-frequent-shingle fraction (C4-style boilerplate signal)
    "doc_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateScores(rd(s, dir, "documents"), "doc_id", "text", minDocs = 2L)),
    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(rd(s, dir, "documents"), "doc_id", "text", 0.8)),
    // the scale-shaped form: shingles in > 20 docs excluded from the inverted
    // index (jaccard = documented lower bound) — pins the cap's semantics
    "dedup_jaccard_capped" -> ((s, dir) =>
      Dedup.jaccardPairs(rd(s, dir, "documents"), "doc_id", "text", 0.8,
        maxDocFrequency = 20L)),
    // containment catches subset copies a jaccard threshold never surfaces
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(rd(s, dir, "documents"), "doc_id", "text", 0.9)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(rd(s, dir, "documents"), "doc_id", "text", 0.8)),
    // encode-once signature layout: ONE shingle pass → (id, 32 Long minima),
    // then banding + the matching-minima Jaccard ESTIMATE read signatures only
    "dedup_minhash_sig" -> ((s, dir) => {
      val sigs = Dedup.minHashSignatures(rd(s, dir, "documents"), "doc_id", "text")
      Dedup.nearDupFromSignatures(sigs, "doc_id", "sig", 0.5)
    }),
    // incremental signature maintenance (r17 — the bm25_topk_incr /
    // ann_ivfpq_incr posture for MinHash): signatures are per-doc pure
    // functions, so sig(old) ∪ sig(new) ≡ sig(old ∪ new) EXACTLY — a crawl
    // increment encodes only its own docs and appends; search reads the
    // union. Shares dedup_minhash_sig's oracle: identity IS the contract.
    "dedup_sig_incr" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val old = Dedup.minHashSignatures(docs.filter(col("doc_id") < 250), "doc_id", "text")
      val nw = Dedup.minHashSignatures(docs.filter(col("doc_id") >= 250), "doc_id", "text")
      Dedup.nearDupFromSignatures(old.unionByName(nw), "doc_id", "sig", 0.5)
    }),
    // crawl-vs-crawl from persisted signatures: both corpora as (id, 32
    // minima) frames, no text read on either side
    "dedup_sig_cross" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val a = Dedup.minHashSignatures(docs.filter(col("doc_id") < 250), "doc_id", "text")
      val b = Dedup.minHashSignatures(docs.filter(col("doc_id") >= 250), "doc_id", "text")
      Dedup.nearDupFromSignaturesBetween(a, "doc_id", "sig", b, "doc_id", "sig", 0.5)
    }),
    // incremental exact dedup: new batch checked against the persisted digest
    // frame of everything kept so far (and against itself)
    "dedup_exact_incr" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val seen = Dedup.exactDigests(docs.filter(col("doc_id") < 250), "text")
      Dedup.exactIncrement(docs.filter(col("doc_id") >= 250), "doc_id", "text", seen)
    }),
    // Bloom-prescreened incremental: seen set too big to matter in the
    // exchange — screen, then exact-verify (result = dedup_exact_incr)
    "dedup_exact_incr_bloom" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val seen = Dedup.exactDigests(docs.filter(col("doc_id") < 250), "text")
      Dedup.exactIncrementBloom(docs.filter(col("doc_id") >= 250), "doc_id", "text", seen)
    }),
    // CCNet paragraph dedup: newline-boundary boilerplate cut corpus-wide.
    // The synthetic corpus is single-line, so the gate paragraph-izes it
    // deterministically (10-word chunks joined by newlines) — near-dup docs
    // then share real paragraphs and the cut path is exercised
    "dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDedup(paragraphized(s, dir), "doc_id", "ptext", minDocs = 2)),
    // within-doc repeated-line cut (C4 in-document rule), same deterministic
    // paragraph-ization as dedup_paragraph so the cut path is exercised on
    // the single-line synthetic corpus
    "dedup_lines_within" -> ((s, dir) =>
      Dedup.lineDedupWithinDoc(paragraphized(s, dir), "doc_id", "ptext")),
    // Gopher §A1.2 line-repetition fractions (scored, not cut)
    "text_rep_lines" -> ((s, dir) =>
      CorpusStats.lineRepetitionReport(paragraphized(s, dir), "doc_id", "ptext")),
    // content-defined chunking dedup: Karp-Rabin boundaries (insert/delete
    // re-chunks only its own neighborhood), digest-keyed cross-doc verdict
    "dedup_cdc" -> ((s, dir) =>
      Dedup.cdcChunks(rd(s, dir, "documents"), "doc_id", "text",
        window = 8, avgChunk = 64, minDocs = 2)),
    // ...and the within-corpus ANY-second-occurrence removal (self-repeats
    // cut too — the full Lee et al. criterion)
    "dedup_substring_self_clean" -> ((s, dir) =>
      Dedup.removeDuplicateSpansAll(rd(s, dir, "documents"), "doc_id", "text", k = 20)),
    // Stupid Backoff bigram LM (Brants 2007) trained on the doc_id<5 slice
    "text_sbo" -> ((s, dir) =>
      CorpusStats.stupidBackoffLogLoss(rd(s, dir, "documents"), "doc_id", "text",
        col("doc_id") < 5, alphaMilli = 400)),
    // lexical diversity: type-token ratio per doc (integer milli) — the
    // low-TTR tail is keyword-stuffing/boilerplate
    "text_ttr" -> ((s, dir) =>
      rd(s, dir, "documents")
        .select(col("doc_id"), wordsCol(col("text")).as("__ws"))
        .filter(size(col("__ws")) > 0)
        .select(col("doc_id"), size(col("__ws")).cast("long").as("n_words"),
          size(array_distinct(col("__ws"))).cast("long").as("n_types"))
        .withColumn("ttr_milli", expr("n_types * 1000 DIV n_words"))),
    // RAKE keyword extraction: top phrase per doc, corpus-derived stopwords
    "text_rake" -> ((s, dir) =>
      CorpusStats.rakeTopPhrase(rd(s, dir, "documents"), "doc_id", "text",
        nStopwords = 8)),
    // ...and the ranked keyphrase LIST (top-3) a tagging pipeline stores
    "text_keyphrases" -> ((s, dir) =>
      CorpusStats.rakePhrases(rd(s, dir, "documents"), "doc_id", "text",
        nStopwords = 8, k = 3)),
    // row-level bootstrap manifest: replicate 0's draws with multiplicity
    "bootstrap_draws" -> ((s, dir) =>
      Sampling.bootstrapDraws(rd(s, dir, "documents"), "doc_id", replicate = 0)),
    // per-source quantile normalization of length (fair filtering input)
    "quality_qnorm" -> ((s, dir) =>
      CorpusStats.groupQuantileNorm(rd(s, dir, "documents"), "doc_id", "n_chars", "source")),
    // char-weighted mixture quota with a per-source cap + one redistribution
    "mixture_capped" -> ((s, dir) =>
      Sampling.cappedQuota(rd(s, dir, "documents"), "source", "n_chars",
        budget = 10000L, cap = 500L)),
    // streaming admission control on the batch frame: skip-and-continue
    // per-source budget gate (rejected docs don't consume budget) — the
    // quota map is an O(|sources|) collect, the documented small side
    "stream_quota_batch" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val quotas = Sampling.cappedQuota(docs, "source", "n_chars", 50000L, 2500L)
        .select(col("source"), col("quota")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.streaming.StreamQuota.admit(docs, "doc_id", "source", "n_chars", quotas)
        .toDF()
    }),
    // ...and the enforcement half: greedy per-source fill within the quota
    "mixture_fill" -> ((s, dir) =>
      Sampling.quotaFill(rd(s, dir, "documents"), "doc_id", "source", "n_chars",
        budget = 50000L, cap = 2500L)),
    // Dirichlet query-likelihood ranking (Zhai-Lafferty), the LM ranker
    // beside BM25 — same query set, micro-nat integer scores
    "ql_topk" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Bm25.topKQl(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5), "doc_id", "text", k = 10, mu = 300.0)
    }),
    // farthest-from-centroid vectors per k-means cluster (bottom decile of
    // within-cluster cosine) — the SemDeDup-complement prototypicality audit
    "emb_outliers" -> ((s, dir) =>
      CorpusStats.groupQuantileNorm(
        SimSearch.kmeansAssign(rd(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, nIters = 2),
        "vec_id", "cos_micro", "cluster")
        .filter(col("qnorm_milli") <= 100L)),
    // binary-sketch ANN: 1 bit/dim sign words, brute Hamming top-k — the
    // 32x-compression screening tier under the float/PQ rerankers
    "ann_binary" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKBinary(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, excludeSelf = true)
    }),
    // ...and the two-tier form: Hamming shortlist of 20, exact cosine rerank
    "ann_binary_rerank" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKBinaryRerank(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, shortlist = 20, excludeSelf = true)
    }),
    // in-engine audit of the binary tier: per-query recall@5 of the
    // Hamming-shortlist+rerank chain vs exact brute force, integer-milli
    "ann_binary_recall" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 50)
      val brute = SimSearch.topK(q, "vec_id", "embedding",
          emb, "vec_id", "embedding", 5, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"))
      val bin = SimSearch.topKBinaryRerank(q, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5, shortlist = 20, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      brute.join(bin, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k_eval"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("k_eval"), col("n_hits"),
          expr("n_hits * 1000 DIV k_eval").as("recall_milli"))
    }),
    // recency-weighted per-user value: integer-cents halved every 7 days
    "events_decayed" -> ((s, dir) =>
      EventStats.decayedEngagement(rd(s, dir, "events"), "user_id", "value",
        halfLifeDays = 7)),
    // day-of-week seasonal baseline + residuals over a dense day spine —
    // "is today unusual for a Tuesday"
    "events_seasonal" -> ((s, dir) =>
      EventStats.seasonalBaseline(rd(s, dir, "events"), "event_type")),
    // streaming face of decayed engagement: fixed-anchor O(1)-per-event
    // state fold, batch-frame run ≡ the batch op (same oracle)
    "stream_decayed_batch" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
      val anchor = ev.filter(col("value").isNotNull)
        .agg(max(to_date(graft.streaming.EventTime.tsCol(ev))).as("d"))
        .collect()(0).getDate(0) // 1-row anchor collect, the documented O(1) side
      graft.streaming.StreamDecay.scores(ev, "user_id", "value", anchor, 7).toDF()
    }),
    // linear multi-touch attribution: each purchase's 7-day touch window
    // splits exactly 1000 milli-credits (remainder to the last touch)
    "events_attribution" -> ((s, dir) =>
      EventStats.linearAttribution(rd(s, dir, "events"), "user_id", "event_type",
        convType = "purchase", lookbackDays = 7)),
    // weekly churn accounting: active/retained/incoming/churned per week
    "events_churn" -> ((s, dir) =>
      EventStats.weeklyChurn(rd(s, dir, "events"), "user_id")),
    // hour-of-week activity heatmap (0=Monday; the load-shaping input)
    "events_heatmap" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
      ev.select(weekday(graft.streaming.EventTime.tsCol(ev)).cast("long").as("dow"),
          hour(graft.streaming.EventTime.tsCol(ev)).cast("long").as("hour"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
    }),
    // posting-length skew diagnostic of the trigram index: pow2 df buckets
    // — the measurable behind the simJoin family's posting-cap knob
    "simjoin_blockstats" -> ((s, dir) => {
      val toks = rd(s, dir, "part")
        .select(col("p_partkey").as("id"),
          explode(array_distinct(graft.functions.Trigrams.trigramTokens(col("p_name"))))
            .as("tok"))
      toks.groupBy(col("tok")).agg(count(lit(1)).as("__df"))
        .select(expr(pow2BucketCase("__df")).cast("long").as("df_bucket"),
          col("__df"))
        .groupBy(col("df_bucket"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("__df")).as("n_postings"))
    }),
    // market-basket rules on (user, day) baskets: confidence + lift per
    // ordered event-type pair, counts-only integer arithmetic
    "events_assoc_rules" -> ((s, dir) =>
      EventStats.associationRules(rd(s, dir, "events"), "user_id", "event_type")),
    // ...and the U-shape model: 40/20/40 ends-weighted position credit
    "events_attribution_u" -> ((s, dir) =>
      EventStats.positionAttribution(rd(s, dir, "events"), "user_id", "event_type",
        convType = "purchase", lookbackDays = 7,
        firstMilli = 400L, lastMilli = 400L)),
    // ...and the time-decay model completing the classic trio: power-of-two
    // recency weights, weight-proportional integer split, remainder-to-last
    "events_attribution_decay" -> ((s, dir) =>
      EventStats.decayAttribution(rd(s, dir, "events"), "user_id", "event_type",
        convType = "purchase", lookbackDays = 7, halfLifeDays = 2)),
    // length-bucketed dynamic batching: global length deciles, then
    // running-budget batch ids within each bucket (padding-waste killer)
    "pack_buckets" -> ((s, dir) =>
      Packing.lengthBucketBatches(rd(s, dir, "documents"), "doc_id", "n_chars",
        nBuckets = 10, batchBudget = 4096L)),
    // bounded k-core peel over the mutual-kNN graph: 3 synchronous rounds
    // at threshold 2 — the dense-semantic-region selector
    "graph_kcore" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      GraphRank.kCorePeel(emb.select(col("vec_id")), "vec_id",
        Dedup.mutualKnnEdges(emb, "vec_id", "embedding", 3), "id_a", "id_b",
        kcore = 2, rounds = 3)
    }),
    // majority-vote label propagation over the same mutual-kNN graph:
    // 3 synchronous rounds, self-vote + smallest-label ties (deterministic)
    "graph_labelprop" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      GraphRank.labelPropagation(emb.select(col("vec_id")), "vec_id",
        Dedup.mutualKnnEdges(emb, "vec_id", "embedding", 3), "id_a", "id_b",
        rounds = 3)
    }),
    // persisted-edge-table doctrine (the trigramIndex/impactIndex move
    // applied to the graph family): the mutual-kNN edge relation is written
    // ONCE to parquet and label propagation reads the table instead of
    // rebuilding the LSH bucket join — the operational posture at 100 TB,
    // where the graph is built nightly and queried many times. Shares
    // graph_labelprop's oracle: bit-identical to the fused path is the
    // contract.
    "graph_from_table" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val base = s"${sys.props("java.io.tmpdir")}/graft_graph/" +
        s"ge_${ProcessHandle.current().pid()}_${orcRunNonce.incrementAndGet()}"
      // REBALANCE before the write (r18, guide §6): the persisted edge table
      // is written once and read many times, and the un-hinted write emitted
      // one near-empty file per shuffle partition (32 files of a few KB at
      // sf0.1 — 32 write tasks, 32 footers for every later read). The hint
      // lets AQE size the output splits from the DATA (advisory partition
      // bytes), so the same code writes 1 file here and ~64 MB files at
      // 100 TB. Row content is untouched; labels are partition-order
      // independent (oracle-pinned).
      Dedup.mutualKnnEdges(emb, "vec_id", "embedding", 3)
        .hint("rebalance")
        .write.mode("overwrite").parquet(base)
      GraphRank.labelPropagation(emb.select(col("vec_id")), "vec_id",
        s.read.parquet(base), "id_a", "id_b", rounds = 3)
    }),
    // the k-core face of the same persisted-edge-table doctrine: the peel
    // reads the parquet edge table; shares graph_kcore's oracle
    "graph_kcore_from_table" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val base = s"${sys.props("java.io.tmpdir")}/graft_graph/" +
        s"gk_${ProcessHandle.current().pid()}_${orcRunNonce.incrementAndGet()}"
      Dedup.mutualKnnEdges(emb, "vec_id", "embedding", 3)
        .hint("rebalance") // data-sized output files — see graph_from_table
        .write.mode("overwrite").parquet(base)
      GraphRank.kCorePeel(emb.select(col("vec_id")), "vec_id",
        s.read.parquet(base), "id_a", "id_b", kcore = 2, rounds = 3)
    }),
    // ...and its quality receipt: Newman modularity of those communities
    "graph_modularity" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val edges = Dedup.mutualKnnEdges(emb, "vec_id", "embedding", 3)
      val labels = GraphRank.labelPropagation(emb.select(col("vec_id")), "vec_id",
        edges, "id_a", "id_b", rounds = 3)
      GraphRank.modularity(edges, "id_a", "id_b", labels, "vec_id", "label")
    }),
    // ORC round trip: typed columnar interchange — every column bit-exact
    // including empty strings (the CSV caveat does not apply)
    "source_orc" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      // Per-invocation unique path (pid + counter): concurrent bench/verify
      // runs on the same SF dir must not race writer-vs-reader, and a
      // hashCode-keyed shared path can alias different datasets.
      val base = s"${sys.props("java.io.tmpdir")}/graft_orc/" +
        s"ov_${ProcessHandle.current().pid()}_${orcRunNonce.incrementAndGet()}"
      graft.sources.OrcTable.write(docs, base)
      graft.sources.OrcTable.read(s, base, docs.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
          col("source"), col("n_chars"))
    }),
    // Avro round trip: row-oriented interchange via the hand-rolled
    // container-file source (no spark-avro connector in the sandbox —
    // avro-core DataFileWriter/DataFileStream, one file per partition),
    // bit-exact including empty strings and nulls
    "source_avro" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val base = s"${sys.props("java.io.tmpdir")}/graft_avro/" +
        s"av_${ProcessHandle.current().pid()}_${orcRunNonce.incrementAndGet()}"
      graft.sources.AvroTable.write(docs, base)
      graft.sources.AvroTable.read(s, base, docs.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
          col("source"), col("n_chars"))
    }),
    // the splittable-read face: the SAME corpus written as ONE container
    // file (the giant externally-produced shard), read back through
    // 1 MB sync-marker splits — parallelism from the format's own block
    // structure, not from producer file count; same oracle as source_avro
    "source_avro_split" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val base = s"${sys.props("java.io.tmpdir")}/graft_avro/" +
        s"avs_${ProcessHandle.current().pid()}_${orcRunNonce.incrementAndGet()}"
      graft.sources.AvroTable.write(docs.coalesce(1), base)
      graft.sources.AvroTable.read(s, base, docs.schema, maxSplitBytes = 1L << 20)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
          col("source"), col("n_chars"))
    }),
    // URL canonicalization (crawl-frontier dedup / domain-mixing key): the
    // word-salad corpus carries no URLs, so the gate SYNTHESIZES messy ones
    // deterministically from doc fields (mixed-case scheme+host, www, :443
    // and :80 default ports, tracking query, fragment, trailing slash,
    // prose punctuation) — the oracle builds the identical strings — then
    // extracts and normalizes: two spellings of one resource must collapse
    // to one key BEFORE any URL-keyed groupBy, or quotas/seen-lists fragment
    "url_normalize" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      import graft.functions.TextFunctions
      val synth = docs.select(col("doc_id"),
        concat(lit("see HtTpS://WwW."), col("source"), lit(".ExAmPle.COM:443/Data/"),
          col("lang"), lit("/"), (col("doc_id") % 7).cast("string"),
          lit("/?utm_source=x&ref=y#frag and http://MiRrOr-"), col("source"),
          lit(".OrG:80/). done")).as("text"))
      synth.select(col("doc_id"),
          explode(TextFunctions.extractUrlsCol(col("text"))).as("__u"))
        .select(col("doc_id"), TextFunctions.urlNormalizeCol(col("__u")).as("url"))
    }),
    // ...and the per-domain rollup those canonical keys exist for: the
    // domain-quota / blocklist read (n_urls, n_docs per registrable host)
    "url_domains" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      import graft.functions.TextFunctions
      val synth = docs.select(col("doc_id"),
        concat(lit("see HtTpS://WwW."), col("source"), lit(".ExAmPle.COM:443/Data/"),
          col("lang"), lit("/"), (col("doc_id") % 7).cast("string"),
          lit("/?utm_source=x&ref=y#frag and http://MiRrOr-"), col("source"),
          lit(".OrG:80/). done")).as("text"))
      synth.select(col("doc_id"),
          explode(TextFunctions.extractUrlsCol(col("text"))).as("__u"))
        .select(col("doc_id"), TextFunctions.urlNormalizeCol(col("__u")).as("url"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "^https?://([^/]*)", 1).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),
    // TPC-H Q6 shape: the pushdown showcase — every predicate reaches the
    // scan (PushedFilters), one exact-cents aggregate, zero joins
    "lineitem_q6" -> ((s, dir) =>
      rd(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5) AS BIGINT)"))
            .as("revenue_cents"))),
    // TPC-H Q4 shape: the EXISTS semi-join — orders with >= 1 late-shipped
    // item (90-day lag standing in for commit/receipt dates), by priority
    "orders_q4" -> ((s, dir) => {
      val o = rd(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      val li = rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),
    // TPC-H Q12 shape: late-shipment priority split by ship mode (shipmode
    // synthesized from l_partkey — the schema carries none — and the 60-day
    // lag standing in for commit/receipt dates, the orders_q4 stance): did
    // cheap ship modes delay high-priority orders?
    "lineitem_q12" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"),
          when(col("l_partkey") % 3 === 0, "MAIL")
            .when(col("l_partkey") % 3 === 1, "SHIP").otherwise("RAIL").as("shipmode"))
        .filter(col("shipmode").isin("MAIL", "SHIP"))
      val o = rd(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("shipmode"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),
    // TPC-H Q10 shape: returned-item revenue per customer, exact cents
    "orders_returns" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")
            .as("__cents"))
      val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_items"), sum(col("__cents")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
        .limit(20)
    }),
    // TPC-H Q7 shape: cross-nation trade flows — lineitem shuffles once per
    // key join, both nation dims broadcast with their predicates pushed down
    "orders_nation_trade" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")
          .as("__cents"))
      val n = rd(s, dir, "nation")
      val sup = rd(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(n.filter(col("n_name").isin("NATION_1", "NATION_2"))
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = rd(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(n.filter(col("n_name").isin("NATION_1", "NATION_2"))
          .select(col("n_nationkey").as("__nk2"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("__nk2"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(count(lit(1)).as("n_items"), sum(col("__cents")).as("revenue_cents"))
    }),
    // TPC-H Q5 shape: local-supplier volume — the two-big-two-dim star with
    // a CORRELATION predicate (supplier and customer must share a nation)
    // that no single join key carries: dims (nation⋈region, supplier)
    // broadcast, lineitem⋈orders is the one big-big shuffle, and the
    // local-supplier test lands as a post-broadcast-join filter
    "orders_q5" -> ((s, dir) => {
      val nr = rd(s, dir, "nation")
        .join(broadcast(rd(s, dir, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = rd(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = rd(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")
          .as("__cents"))
      val sup = rd(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), sum(col("__cents")).as("revenue_cents"))
    }),
    // TPC-H Q22 shape: the ANTI-join classic — above-average-balance
    // customers with no RECENT order (none since 1999; the synthetic corpus
    // has zero fully-orderless customers at small SFs, so pure "never
    // ordered" would gate an empty relation), by country code. The average
    // threshold is compared in RATIONAL integer form (cents·n > sum_cents)
    // so the boundary is engine-exact — a float avg would make boundary
    // rows fold-order-dependent
    "customer_q22" -> ((s, dir) => {
      val c = rd(s, dir, "customer")
        .select(col("c_custkey"),
          (col("c_nationkey") % 5).cast("long").as("cntrycode"),
          expr("CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)").as("__cents"))
        .filter(col("cntrycode").isin(0L, 1L, 2L, 3L))
      val tot = c.filter(col("__cents") > 0L)
        .agg(sum(col("__cents")).as("__s"), count(lit(1)).as("__n"))
      val recent = rd(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast("timestamp"))
        .select(col("o_custkey"))
      val inactive = c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      inactive.crossJoin(broadcast(tot))
        .filter(col("__cents") * col("__n") > col("__s"))
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("n_cust"), sum(col("__cents")).as("acctbal_cents"))
    }),
    // TPC-H Q8 shape: competitor market share — what fraction of AMERICA's
    // PROMO-part revenue did ASIA-region suppliers take, per year (a single
    // nation's share is ZERO at sf0.001 — degenerate — so the share subject
    // is a supplier REGION, non-degenerate at every SF). Market membership
    // is a LEFT SEMI join (customer columns never flow), part and supplier
    // dims broadcast; the share is exact integer cents divided once at the
    // end (values < 2^53, so the double is engine-identical)
    "orders_q8" -> ((s, dir) => {
      val market = rd(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(rd(s, dir, "nation")
          .join(broadcast(rd(s, dir, "region").filter(col("r_name") === "AMERICA")
            .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = rd(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(market, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      val li = rd(s, dir, "lineitem")
        .join(broadcast(rd(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")
            .as("__cents"))
      val supN = rd(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(rd(s, dir, "nation")
          .select(col("n_nationkey").as("__snk"), col("n_regionkey").as("__srk"))),
          col("s_nationkey") === col("__snk"))
        .join(broadcast(rd(s, dir, "region")
          .select(col("r_regionkey").as("__srk2"), col("r_name").as("s_rname"))),
          col("__srk") === col("__srk2"))
        .select(col("s_suppkey"), col("s_rname"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(sum(col("__cents")).as("total_cents"),
          sum(when(col("s_rname") === "ASIA", col("__cents")).otherwise(0L))
            .as("competitor_cents"))
        .withColumn("share_micro",
          floor(col("competitor_cents") * lit(1000000.0) / col("total_cents")).cast("long"))
    }),
    // TPC-H Q13 shape: customer order-count distribution INCLUDING
    // zero-order customers (the left-join-then-histogram classic)
    "orders_count_dist" -> ((s, dir) => {
      val c = rd(s, dir, "customer").select(col("c_custkey"))
      val o = rd(s, dir, "orders").select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("__n")) // count skips nulls: 0 for orderless
        .groupBy(col("__n").as("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
    }),
    // TPC-H Q19 shape: disjunctive brand/size/quantity revenue — the
    // OR-predicate pushdown showcase (part dim broadcast, cents exact)
    "orders_brand_revenue" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"),
        expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")
          .as("__cents"))
      val p = rd(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter((col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#22" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)) ||
          (col("p_brand") === "Brand#33" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50)))
        .agg(count(lit(1)).as("n_items"), sum(col("__cents")).as("revenue_cents"))
    }),
    // TPC-H Q14 shape: monthly promo revenue share — broadcast dim join,
    // exact cents, DECIMAL(38,0) intermediate for the milli ratio
    "promo_share" -> ((s, dir) => {
      val li = rd(s, dir, "lineitem").select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")
          .as("__cents"))
      val p = rd(s, dir, "part").select(col("p_partkey"), col("p_type"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("month"))
        .agg(sum(when(col("p_type") === "PROMO", col("__cents")).otherwise(0L))
            .as("promo_cents"),
          sum(col("__cents")).as("total_cents"))
        .select(col("month"), col("promo_cents"), col("total_cents"),
          expr("CAST(CAST(promo_cents AS DECIMAL(38,0)) * 1000 DIV total_cents AS BIGINT)")
            .as("promo_milli"))
    }),
    // TPC-H Q18 shape: big-volume orders — the selective HAVING survivors
    // broadcast into the orders/customer joins (never the other way), but
    // SIZE-GUARDED: survivor cardinality is data-dependent (the quantity cut
    // may stop being selective at 100×), so the explicit hint only applies
    // when Catalyst's own estimate fits the broadcast budget; otherwise the
    // hint is dropped and AQE picks the strategy at runtime.
    "orders_top_volume" -> ((s, dir) => {
      val big = rd(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_quantity") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("sum_qty_micro"))
        .filter(col("sum_qty_micro") > lit(200L * 1000000L))
      val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val bigHinted = if (graft.operators.SizeGuard.fits(big)) broadcast(big) else big
      bigHinted.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_date"),
          col("sum_qty_micro"))
    }),
    // C4-style line rules over the paragraph-ized corpus: >= 3 words AND
    // corpus-frequent lines (>= 2 docs) dropped, doc rebuilt + digested
    "c4_line_filter" -> ((s, dir) =>
      Dedup.lineRuleClean(paragraphized(s, dir), "doc_id", "ptext",
        minWords = 3, maxLineDf = 2L)),
    // which sources duplicate each other: mergeable MinHash — group sig =
    // elementwise min of doc sigs, similarity from signatures alone
    "source_minhash_sim" -> ((s, dir) =>
      Dedup.groupSignatureSim(rd(s, dir, "documents"), "source", "text")),
    // ...and the sketch-free exact audit: shared distinct 13-grams per
    // source pair, containment vs the smaller side
    "source_overlap" -> ((s, dir) =>
      Dedup.groupGramOverlap(rd(s, dir, "documents"), "source", "text", n = 13)),
    // crawl-fragment stitching: tail-8-words of a == head-8-words of b.
    // Exercised over constructed overlapping halves of each doc (frag 2d =
    // first ceil(n/2) words, frag 2d+1 = from ceil(n/2)-7 to the end, so
    // the halves share exactly the 8-word boundary the operator keys on) —
    // the raw corpus has no truncation pairs, the fragment relation does.
    "doc_stitch_pairs" -> ((s, dir) => {
      val ws = rd(s, dir, "documents")
        .select(col("doc_id"), wordsCol(col("text")).as("__ws"))
        .filter(size(col("__ws")) >= 16)
      val a = ws.select((col("doc_id") * 2).as("frag_id"),
        expr("array_join(slice(__ws, 1, CAST((size(__ws) + 1) DIV 2 AS INT)), ' ')")
          .as("ftext"))
      val b = ws.select((col("doc_id") * 2 + 1).as("frag_id"),
        expr("array_join(slice(__ws, CAST((size(__ws) + 1) DIV 2 - 7 AS INT), " +
          "size(__ws)), ' ')").as("ftext"))
      Dedup.stitchPairs(a.unionByName(b), "frag_id", "ftext", k = 8)
    }),
    // deterministic Poisson(1) bootstrap replicate summary (error bars for
    // corpus metrics without materializing resamples)
    "bootstrap_counts" -> ((s, dir) =>
      Sampling.bootstrapCounts(rd(s, dir, "documents"), "doc_id", nReplicates = 8)),
    // the clustering primitive exposed: 2 integer-exact Lloyd passes, k=8
    "emb_kmeans" -> ((s, dir) =>
      SimSearch.kmeansAssign(rd(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, nIters = 2)),
    // ...and the trained codebook exported: per-cluster integer-quantized
    // mean vector (the artifact a serving stack ships)
    "emb_kmeans_centroids" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val asg = SimSearch.kmeansAssign(emb, "vec_id", "embedding", k = 8, nIters = 2)
        .select(col("vec_id"), col("cluster"))
      asg.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "__x")))
        .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          expr("sum(CAST(floor(CAST(__x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) DIV count(1)")
            .as("c_micro"))
    }),
    // one-call ingest screening: exact/near/contamination verdicts for a
    // new batch vs (history, bench) — the admission checklist composed
    "pipeline_ingest" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      IngestScreen.screen(
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") < 20), 0.8)
    }),
    // end-to-end training-shard build: curate (quality+dedup+quota) → greedy
    // per-source context packing → HRW shard assignment of the packed bins —
    // the full make-training-shards call, every stage its standalone mirror
    "pipeline_shards" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val curated = CuratePipeline.curate(docs, "doc_id", "text", "source", 0.5, 200L)
      val toks = docs.select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens"))
      val packed = Packing.packGreedy(
        curated.select(col("doc_id"), col("source")).join(toks, Seq("doc_id")),
        "source", "doc_id", "n_tokens", 1024L)
      val keyed = packed.withColumn("bin_key",
        pmod(TextFunctions.tHashUdf(col("source")), lit(1000003L)) * 4096L + col("bin"))
      Packing.rendezvousShard(keyed, "bin_key", 10)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"), col("shard"))
    }),
    // cross-corpus form: neither side broadcast — the crawl-vs-last-crawl shape
    "dedup_cross" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Dedup.minHashLshPairsBetween(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.8)
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(rd(s, dir, "documents"), "doc_id", "text", 7)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    // the 16-bit-band shape (4 bands, exact ≤ Hamming 3) — what a 10⁹-doc run
    // would use: 65 536 bucket values per band vs 256, candidates ~131 000× fewer
    "dedup_simhash16" -> ((s, dir) =>
      Dedup.simHashPairs(rd(s, dir, "documents"), "doc_id", "text", 3, bandBits = 16)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    "simhash_fp" -> ((s, dir) =>
      Dedup.simHashFingerprints(rd(s, dir, "documents"), "doc_id", "text")),
    // StreamNearDup's batch form: screen a document slice against the full
    // corpus (16-bit banding, pigeonhole-exact at maxHamming=3 — the oracle
    // is therefore a plain fingerprint cross join, no banding approximation)
    // streaming decontamination holds the eval-leak line; batch face here,
    // stream parity spec-pinned (same output as Decontaminate.flagged)
    // streaming chunk dedup driven on a batch frame: every distinct chunk at
    // its canonical (min doc, min index) first occurrence — the keep-first
    // chunk ledger the stream maintains exactly-once across micro-batches
    "stream_chunk_batch" -> ((s, dir) =>
      graft.streaming.StreamChunkDedup.firstPerChunk(
        rd(s, dir, "documents"), "doc_id", "text", chunkWords = 20).toDF()),
    "stream_decon_batch" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      graft.streaming.StreamDecontaminate.flagAgainst(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 20), "doc_id", "text", n = 13)
        .filter(col("doc_id") =!= col("bench_id"))
    }),
    // streaming drift face (batch-run): per-day PSI of event values vs the
    // table's own global baseline — the live-ingest alerting read
    "stream_drift_batch" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
      val base = CorpusStats.psiDrift(
          ev.select(col("value").as("v")), ev.select(col("value").as("v")),
          "v", 0.0, 400.0, 8)
        .select(col("bin"), col("base_micro"))
        .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
      graft.streaming.StreamDrift.psiPerWindow(ev, "value", base, 0.0, 400.0, "1 day")
    }),
    "stream_neardup_batch" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      graft.streaming.StreamNearDup.flagAgainst(
          docs.filter(col("doc_id") < 100), "doc_id", "text",
          docs, "doc_id", "text", maxHamming = 3, bandBits = 16)
        .select(col("doc_id"), col("matched_id"), col("hamming").cast("long").as("hamming"))
    }),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingPairs(rd(s, dir, "embeddings"), "vec_id", "embedding", 0.4)),
    // SemDeDup: cluster-then-compare semantic dedup (quadratic step bounded
    // by cluster size; same Lloyd quantizer as ann_ivf)
    "semdedup" -> ((s, dir) =>
      Dedup.semDedup(rd(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
        nList = 16, nIters = 1)),
    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingPairsLsh(rd(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
        nPlanes = 8, nTables = 2)),
    "dedup_clusters" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      // edges from the banded-LSH path (the 100 TB shape) — oracle mirrors the
      // banding exactly, so this stays hash-checked, not luck-of-the-data
      val edges = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.8)
      ConnectedComponents.run(docs, "doc_id", edges, "id_a", "id_b")
    }),
    // persisted-edge-table doctrine on the DEDUP family (r17 — the
    // graph_from_table move): the near-dup edge relation is mined ONCE and
    // written to parquet; clustering reads the table instead of re-running
    // tokenize+band+verify — the nightly-dedup posture at 100 TB, where the
    // edge mine is the expensive pass and relabeling (new thresholds,
    // incremental batches, audits) happens many times per mine. Shares
    // dedup_clusters' oracle: bit-identical labels from the table IS the
    // contract.
    "dedup_clusters_from_table" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val base = s"${sys.props("java.io.tmpdir")}/graft_dedup/" +
        s"de_${ProcessHandle.current().pid()}_${orcRunNonce.incrementAndGet()}"
      Dedup.minHashLshPairs(docs, "doc_id", "text", 0.8)
        .hint("rebalance") // data-sized output files — see graph_from_table
        .write.mode("overwrite").parquet(base)
      ConnectedComponents.run(docs, "doc_id", s.read.parquet(base), "id_a", "id_b")
    }),
    // incremental relabel: old labels are a star forest that preserves old
    // connectivity — only edges touching the new batch (doc_id >= 250) are
    // mined; must equal the full recompute (same oracle as dedup_clusters)
    "dedup_clusters_incr" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      // ONE banded build serves both slices (r15): MinHash signatures and
      // band buckets are per-doc content functions, so the old-corpus edge
      // set IS the full edge set filtered to both-old endpoints — the former
      // second minHashLshPairs(old) build (a full tokenize+band+verify pass)
      // recomputed exactly that subset. Persisted: two consumers (same
      // never-unpersist contract as mutualKnnEdges).
      val edges = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val oldLabels = ConnectedComponents.run(docs.filter(col("doc_id") < 250), "doc_id",
        edges.filter(col("id_a") < 250 && col("id_b") < 250), "id_a", "id_b")
      ConnectedComponents.incrementalRun(oldLabels, docs, "doc_id",
        edges.filter(col("id_b") >= 250), "id_a", "id_b")
    }),
    // cluster-size distribution — the audit read before acting on a dedup run
    "dedup_cluster_sizes" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val edges = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.8)
      ConnectedComponents.sizeHistogram(
        ConnectedComponents.run(docs, "doc_id", edges, "id_a", "id_b"))
    }),
    // candidate→verify with a CHARACTER-level metric: LSH bands propose,
    // normalized Levenshtein disposes (≤ 35% of the longer doc edited)
    "dedup_edit_verify" -> ((s, dir) =>
      Dedup.editVerifiedPairs(rd(s, dir, "documents"), "doc_id", "text", 350L)),
    // approximate kNN graph over the embedding corpus (top-3 per vector)
    "knn_graph" -> ((s, dir) =>
      Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3)),
    // mutual-kNN density filter + connected components — semantic dup groups
    "knn_mutual_clusters" -> ((s, dir) =>
      Dedup.mutualKnnClusters(rd(s, dir, "embeddings"), "vec_id", "embedding", 3)),
    // the skew-safe physical face of the same clustering (r17): star rounds
    // as groupBy-min + join — exchanges AQE skew-join CAN split, for graphs
    // where one megacomponent funnels most edges into its root's key (the
    // fused window shape would serialize that key's sort into one task).
    // Shares knn_mutual_clusters' oracle: bit-identical labels either way
    // IS the contract.
    "knn_mutual_clusters_skewsafe" -> ((s, dir) =>
      Dedup.mutualKnnClusters(rd(s, dir, "embeddings"), "vec_id", "embedding", 3,
        skewSafe = true)),
    // CCNet-style chunk-level cross-doc dedup (20-word chunks, ≥2 docs)
    "chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(rd(s, dir, "documents"), "doc_id", "text", 20, 2)),
    // ...and the keep-one-canonical-copy variant (min doc, min chunk index)
    "chunk_dedup_keep_first" -> ((s, dir) =>
      Dedup.chunkDedup(rd(s, dir, "documents"), "doc_id", "text", 20, 2,
        keepFirst = true)),
    // per-source exact-dup health rollup
    "dedup_rate_by_source" -> ((s, dir) =>
      Dedup.dedupRateBySource(rd(s, dir, "documents"), "text", "source")),
    // per-source unigram KL vs the corpus mixture — domain-shift monitor
    "source_kl" -> ((s, dir) =>
      CorpusStats.sourceKlDivergence(rd(s, dir, "documents"), "text", "source")),
    // one-row mixture-balance receipt: source entropy + dominant share
    "source_entropy" -> ((s, dir) =>
      CorpusStats.mixtureEntropy(rd(s, dir, "documents"), "source", "n_chars")),
    // Gopher rule-based quality flags (integer-exact rule evaluation)
    "gopher_flags" -> ((s, dir) =>
      CorpusStats.gopherFlags(rd(s, dir, "documents"), "doc_id", "text")),
    // the end-to-end curation composition: quality >= 0.5 -> exact dedup ->
    // sqrt-temperature per-source quotas over a 200-doc budget -> hash-priority
    // selection (one operator, one composed oracle)
    "pipeline_curate" -> ((s, dir) =>
      CuratePipeline.curate(rd(s, dir, "documents"), "doc_id", "text", "source",
        0.5, 200L)),
    // video-analogue frame sampling over the binary payload (byte-exact)
    // perceptual near-dup identity for media payloads: 64-bit byte-gradient
    // dHash (band like simhash for candidates at scale)
    "mm_phash" -> ((s, dir) =>
      Multimodal.dHash(
        Multimodal.withBinaryPayload(rd(s, dir, "documents"), "text", "payload"),
        "doc_id", "payload")),
    // media near-dup pairs: 4x16-bit banded candidates + exact Hamming
    "mm_phash_pairs" -> ((s, dir) =>
      Multimodal.dHashPairs(
        Multimodal.withBinaryPayload(rd(s, dir, "documents"), "text", "payload"),
        "doc_id", "payload", maxHamming = 3)),
    // REAL codec path: deterministic 18x16 PNG (even ids) / BMP (odd ids)
    // fixtures decoded via javax.imageio, hashed over block-averaged true
    // luma; both formats are lossless so the oracle computes the identical
    // hash analytically from the pixel formula — no byte parsing needed
    "mm_phash_decoded" -> ((s, dir) =>
      Multimodal.imageDHash(
        rd(s, dir, "documents").where(col("doc_id") < 60)
          .select(col("doc_id"), Multimodal.fixtureImageUdf(col("doc_id")).as("payload")),
        "doc_id", "payload")),
    // ids 2k/2k+1 share a base pattern and differ in one grid cell, so each
    // even/odd pair lands within Hamming <= 1 — banding must find them all
    "mm_phash_decoded_pairs" -> ((s, dir) =>
      Multimodal.imageDHashPairs(
        rd(s, dir, "documents").where(col("doc_id") < 60)
          .select(col("doc_id"), Multimodal.fixtureImageUdf(col("doc_id")).as("payload")),
        "doc_id", "payload", maxHamming = 3)),
    "mm_frames" -> ((s, dir) => {
      val wp = Multimodal.withBinaryPayload(rd(s, dir, "documents"), "text", "payload")
      wp.select(col("doc_id"),
          posexplode(Multimodal.frameSample(col("payload"), 4)).as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          sha2(col("frame"), 256).as("frame_sha"),
          octet_length(col("frame")).cast("long").as("frame_bytes"))
    }),
    // DSIR unigram importance weights: target = sources src0-src4
    "dsir_weights" -> ((s, dir) =>
      CorpusStats.dsirWeights(rd(s, dir, "documents"), "doc_id", "text",
        "source IN ('src0','src1','src2','src3','src4')")),
    // ...and the paper-faithful bigram-feature variant
    "dsir_weights_bigram" -> ((s, dir) =>
      CorpusStats.dsirWeights(rd(s, dir, "documents"), "doc_id", "text",
        "source IN ('src0','src1','src2','src3','src4')", ngram = 2)),
    "decontaminate" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.flagged(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 20), "doc_id", "text", n = 13)
        .filter(col("doc_id") =!= col("bench_id"))
    }),
    // per-SOURCE contamination rates — which mixture component is leaking
    // benchmark data (the drop/down-weight decision input)
    "decontaminate_rollup" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val pairs = Decontaminate.flagged(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 20), "doc_id", "text", n = 13)
        .filter(col("doc_id") =!= col("bench_id"))
      Decontaminate.sourceRollup(docs, "doc_id", "source", pairs)
    }),
    // near-match decontamination — catches paraphrased/partial benchmark
    // leaks the exact 13-gram rule misses
    "decontaminate_fuzzy" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.fuzzyFlagged(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 20), "doc_id", "text", 0.5)
        .filter(col("doc_id") =!= col("bench_id"))
    }),
    // per-BENCHMARK-doc leak fractions — the eval-integrity report
    "decontaminate_report" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.leakReport(docs.filter(col("doc_id") >= 20), "text",
        docs.filter(col("doc_id") < 20), "doc_id", "text", k = 20)
    }),
    "dedup_canonical" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val edges = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.8)
      Dedup.canonicalize(docs, "doc_id", edges).select(col("doc_id"), col("lang"))
    }),
    "vocab" -> ((s, dir) =>
      CorpusStats.vocabulary(rd(s, dir, "documents"), "doc_id", "text")),
    "simdedup" -> ((s, dir) =>
      SimDedup.dedup(rd(s, dir, "part"), "p_partkey", "p_name", 0.85)),
    "simjoin_tfidf" -> ((s, dir) => {
      val part = rd(s, dir, "part").filter(col("p_partkey") < 500)
      SimJoin.tfidfPairs(part, "p_partkey", "p_name", part, "p_partkey", "p_name", 3,
          outLeft = "lid", outRight = "rid")
        .select(col("lid"), col("rid"), round(col("sim"), 6).as("sim"))
    }),
    "corpus_clean" -> ((s, dir) =>
      CleanCorpus.clean(rd(s, dir, "documents"), "doc_id", "text",
        minQuality = 0.45, langs = Seq("en"), nearDupThreshold = 0.8)),
    // ---- LLM-pipeline: similarity search ----------------------------------
    "ann_topk" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topK(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, excludeSelf = true)
    }),
    // leave-one-out k-NN label accuracy: majority-vote confusion counts —
    // the "are these embeddings any good" receipt
    "knn_accuracy" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.knnLabelReport(emb.filter(col("vec_id") < 200), "vec_id", "embedding",
        "label", emb, "vec_id", "embedding", "label", 5)
    }),
    // filtered vector search: top-k among label=3 vectors only — the
    // pre-filter strategy (exact k among survivors, predicate pushed to scan)
    "ann_filtered" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKFiltered(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", col("label") === 3, 5, excludeSelf = true)
    }),
    // hard-negative mining: top-k most-similar DIFFERENT-label vectors per
    // anchor — the contrastive-training counterpart of ann_topk
    "ann_hard_negatives" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.hardNegatives(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", emb, "vec_id", "embedding", "label", 5)
    }),
    // MRL adaptive retrieval: 16-dim prefix shortlist + full-vector refine
    "ann_mrl_rerank" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKMrlRerank(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, shortlist = 20, prefixDim = 16,
        excludeSelf = true)
    }),
    // Hybrid retrieval: RRF fusion of the BM25 and dense-cosine rankings
    "hybrid_rrf" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val emb = rd(s, dir, "embeddings")
      val lex = Bm25.topK(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 5), "doc_id", "text", 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      // dense rank on the ROUNDED cosine (hash-stable), ties by id — the
      // oracle derives its rank the same way
      val dw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
      val dense = SimSearch.topK(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding", 10, excludeSelf = true)
        .withColumn("rank", row_number().over(dw))
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Fusion.rrf(lex, dense, "query_id", "doc_id", "rank", 10)
    }),
    // Cluster-aware pruning: k prototypical-but-diverse exemplars per cluster
    "cluster_exemplars" -> ((s, dir) =>
      Dedup.clusterExemplars(rd(s, dir, "embeddings"), "vec_id", "embedding",
        3, lambda = 0.5, nList = 16, nIters = 1)),
    // Grouped MMR over a PRECOMPUTED partition: per-label exemplars scored
    // against the label's own mean centroid — "show me each source"
    "label_exemplars" -> ((s, dir) =>
      Dedup.groupExemplars(rd(s, dir, "embeddings"), "vec_id", "embedding",
        "label", k = 4, lambda = 0.5)),
    // In-engine ANN quality audit: per-query recall@5 of LSH vs brute force
    "ann_recall_report" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.recallReport(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nPlanes = 8, nTables = 2, excludeSelf = true)
    }),
    // MMR diversified top-k: relevance/redundancy greedy trade (λ=0.5)
    "ann_mmr" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKMmr(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, shortlist = 20, lambda = 0.5,
        excludeSelf = true)
    }),
    // FAISS range_search parity: every neighbor at cosine >= 0.3, no top-k cut
    "ann_range" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.rangeSearch(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 0.3, excludeSelf = true)
    }),
    "ann_lsh" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKLsh(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nPlanes = 8, nTables = 2, excludeSelf = true)
    }),
    "ann_ivf" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKIvf(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nList = 16, nProbe = 4, nIters = 1,
        excludeSelf = true)
    }),
    // quantizer-health audit: per-centroid occupancy + cohesion — the
    // read-before-you-trust-nProbe index report
    "ann_ivf_report" -> ((s, dir) =>
      SimSearch.ivfReport(rd(s, dir, "embeddings"), "vec_id", "embedding",
        nList = 16, nIters = 1)),
    // incremental IVF: train the coarse quantizer on the 80% "yesterday"
    // slice, assign the 20% "new crawl" batch to the persisted codebook
    // without retraining — encode once, assign forever
    "ann_ivf_incr" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val ivf = SimSearch.ivfTrainModel(emb.filter(col("vec_id") % 10 < 8),
        "vec_id", "embedding", nList = 16, nIters = 1)
      SimSearch.ivfAssign(emb.filter(col("vec_id") % 10 >= 8),
        "vec_id", "embedding", ivf)
    }),
    // retrain trigger: per-list assignment-cosine distribution of the new
    // batch vs the train slice on the SAME model — delta_micro << 0 or
    // occupancy shifts are the "schedule a retrain" drift signal
    "ann_ivf_drift" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val ivf = SimSearch.ivfTrainModel(emb.filter(col("vec_id") % 10 < 8),
        "vec_id", "embedding", nList = 16, nIters = 1)
      SimSearch.ivfDrift(emb.filter(col("vec_id") % 10 < 8),
        emb.filter(col("vec_id") % 10 >= 8), "vec_id", "embedding", ivf)
    }),
    // PQ retrain trigger (the codebook face of ann_ivf_drift): per
    // (subspace, codeword) integer-milli quantization error of the new
    // batch vs the train slice on the SAME PqModel — delta_errq >> 0 or
    // codeword occupancy shifts schedule a PQ retrain before ADC recall
    // quietly degrades
    "ann_pq_drift" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val train = emb.filter(col("vec_id") % 10 < 8)
      val pq = SimSearch.pqTrainModel(train, "vec_id", "embedding",
        nSub = 8, ksub = 16, nIters = 1)
      SimSearch.pqDrift(train, emb.filter(col("vec_id") % 10 >= 8),
        "vec_id", "embedding", pq)
    }),
    // incremental IVFADC encode: both quantizers trained on the 80% slice,
    // the 20% "new crawl" batch routed + PQ-encoded against the persisted
    // codebooks — the compressed-index face of encode-once-assign-forever
    "ann_ivfpq_incr" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val train = emb.filter(col("vec_id") % 10 < 8)
      val ivf = SimSearch.ivfTrainModel(train, "vec_id", "embedding", nList = 16, nIters = 1)
      val pq = SimSearch.pqTrainModel(train, "vec_id", "embedding",
        nSub = 8, ksub = 16, nIters = 1)
      SimSearch.ivfPqEncode(emb.filter(col("vec_id") % 10 >= 8),
          "vec_id", "embedding", ivf, pq)
        .select(col("id").as("vec_id"), col("list").cast("long").as("list"),
          hex(col("codes")).as("code_hex"))
    }),
    // streaming face of incremental IVF (batch-run): the stateless
    // stream-static assignment — StreamingIvfSpec replays the same rows
    // through a MemoryStream and pins bit-identity to this batch face
    "stream_ivf_assign" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val ivf = SimSearch.ivfTrainModel(emb.filter(col("vec_id") % 10 < 7),
        "vec_id", "embedding", nList = 16, nIters = 1)
      graft.streaming.StreamIvfAssign.assign(emb.filter(col("vec_id") % 10 >= 7),
        "vec_id", "embedding", ivf)
    }),
    // PQ-compressed ANN: codebook-encoded corpus, ADC table-lookup scoring
    "ann_pq" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKPq(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nSub = 8, ksub = 16, excludeSelf = true)
    }),
    // PQ shortlist + exact re-rank (FAISS "search then refine"): ADC top-20
    // shortlist from the codes-only scan, exact cosine over the 20 floats
    "ann_pq_rerank" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKPqRerank(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, shortlist = 20, nSub = 8, ksub = 16,
        excludeSelf = true)
    }),
    // IVFADC shortlist + exact re-rank (FAISS IndexRefineFlat over IVFPQ)
    "ann_ivfpq_rerank" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKIvfPqRerank(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, shortlist = 20, nList = 16, nProbe = 4,
        nIters = 1, nSub = 8, ksub = 16, excludeSelf = true)
    }),
    // IVF-PQ: coarse-list pruning + ADC scoring (the FAISS IVFADC layout)
    "ann_ivfpq" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKIvfPq(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nList = 16, nProbe = 4, nIters = 1,
        nSub = 8, ksub = 16, excludeSelf = true)
    }),
    // PQ with TRAINED codebooks: one deterministic per-subspace Lloyd pass
    // refines the id-seeded codebooks before encoding (Oracles mirrors the
    // integer-quantized training bit-for-bit)
    "ann_pq_trained" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKPq(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nSub = 8, ksub = 16, nIters = 1,
        excludeSelf = true)
    }),
    // IVF-PQ with both quantizers trained (coarse nIters=1, PQ pqIters=1)
    "ann_ivfpq_trained" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKIvfPq(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, nList = 16, nProbe = 4, nIters = 1,
        nSub = 8, ksub = 16, pqIters = 1, excludeSelf = true)
    }),
    // Persisted-corpus PQ layout: encode once → (id, codes: nSub bytes),
    // search scans only codes. Same model as ann_pq_trained → hash parity
    // with the fused path's oracle pins the split's correctness.
    "ann_pq_encoded" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val model = SimSearch.pqTrainModel(emb, "vec_id", "embedding",
        nSub = 8, ksub = 16, nIters = 1)
      val enc = SimSearch.pqEncode(emb, "vec_id", "embedding", model)
      SimSearch.pqSearchEncoded(enc, "id", "codes",
        emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        model, 5, excludeSelf = true)
    }),
    // persisted IVFADC: train both quantizers once, encode the corpus to
    // (id, list, codes: nSub bytes), search probed lists from codes alone
    "ann_ivfpq_encoded" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val ivf = SimSearch.ivfTrainModel(emb, "vec_id", "embedding", nList = 16, nIters = 1)
      val pq = SimSearch.pqTrainModel(emb, "vec_id", "embedding",
        nSub = 8, ksub = 16, nIters = 1)
      val enc = SimSearch.ivfPqEncode(emb, "vec_id", "embedding", ivf, pq)
      SimSearch.ivfPqSearchEncoded(enc, "id", "list", "codes",
        emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        ivf, pq, 5, nProbe = 4, excludeSelf = true)
    }),
    // SQ: brute-force cosine over the int8-quantized corpus — scale cancels
    // in cosine, so scoring runs on the integer codes (4x smaller corpus)
    "ann_sq" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      SimSearch.topKSq(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        emb, "vec_id", "embedding", 5, excludeSelf = true)
    }),
    // lexical retrieval: rank the corpus against reference queries (targeted
    // curation); queries = a small document slice, broadcast by construction
    "bm25_topk" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Bm25.topK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5), "doc_id", "text", 10)
    }),
    // encode-once lexical retrieval: build the postings index once, search it
    // without the text — hash parity with bm25_topk (same oracle)
    "bm25_topk_indexed" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val idx = Bm25.index(docs, "doc_id", "text")
      Bm25.topKIndexed(idx, docs.filter(col("doc_id") < 5), "doc_id", "text", 10)
    }),
    // incremental postings maintenance (the retrieval lane's
    // encode-once-assign-forever face): postings rows are DOC-LOCAL
    // (dl, tf carry no corpus state), so index(old ∪ new) ≡ index(old) ∪
    // index(new) exactly — a crawl increment appends its own postings to the
    // persisted index without touching old rows, and query-time df/idf read
    // the union. Hash parity with bm25_topk (same oracle) IS the contract.
    "bm25_topk_incr" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val idxOld = Bm25.index(docs.filter(col("doc_id") % 10 < 8), "doc_id", "text")
      val idxNew = Bm25.index(docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text")
      Bm25.topKIndexed(idxOld.unionByName(idxNew),
        docs.filter(col("doc_id") < 5), "doc_id", "text", 10)
    }),
    // MaxScore/WAND-pruned BM25 over the impact-ordered index: θ from the
    // per-term top-k impact prefixes, non-essential terms skipped, ONLY
    // candidate docs aggregated — hash parity with bm25_topk (same oracle)
    "bm25_wand" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Bm25.topKMaxScore(Bm25.index(docs, "doc_id", "text"),
        docs.filter(col("doc_id") < 5), "doc_id", "text", 10)
    }),
    // ...and its encode-once face: the persisted impact-ordered index
    // (term, doc, imp) — searches never touch tf/dl/idf again
    "bm25_wand_indexed" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val impIdx = Bm25.impactIndex(Bm25.index(docs, "doc_id", "text"))
      Bm25.topKMaxScoreIndexed(impIdx, docs.filter(col("doc_id") < 5),
        "doc_id", "text", 10)
    }),
    // pseudo-relevance feedback: round-1 top-3 docs vote 5 expansion terms,
    // round 2 re-ranks on the expanded vocabulary — the short-query recall
    // lever, two postings semi-joins total
    "bm25_prf" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val idx = Bm25.index(docs, "doc_id", "text")
      Bm25.topKPrf(idx, docs.filter(col("doc_id") < 5), "doc_id", "text",
        k = 10, fbDocs = 3, fbTerms = 5)
    }),
    // phrase search over the positional index: start-position voting, one
    // join for all phrases; the phrase set = the corpus' own top-5 bigrams.
    // Bigram counting is a map-side adjacent-pair explode over the words
    // array — NOT a positional-index self-join, which shuffles every token
    // occurrence twice for rows an array zip produces in the scan (16.3 →
    // ~2 s at sf0.1); the 5-row `top` is localCheckpoint'd because union
    // consumes it twice.
    "text_phrase_hits" -> ((s, dir) => {
      val pidx = Bm25.positionalIndex(rd(s, dir, "documents"), "doc_id", "text")
      val big = rd(s, dir, "documents")
        .select(wordsCol(col("text")).as("__ws"))
        .filter(size(col("__ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(__ws) - 2), i -> struct(__ws[i] AS w1, __ws[i+1] AS w2))"))
          .as("__p"))
        .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      val top = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w1"), col("w2")).limit(5)
        .localCheckpoint()
      val phrases = top.select(concat_ws(" ", col("w1"), col("w2")).as("phrase_id"),
          col("w1").as("term"), lit(0L).as("offset"))
        .union(top.select(concat_ws(" ", col("w1"), col("w2")).as("phrase_id"),
          col("w2").as("term"), lit(1L).as("offset")))
      Bm25.phraseHits(pidx, phrases)
        .select(col("phrase_id"), col("doc").as("doc_id"), col("n_hits"))
    }),
    // conjunctive (boolean AND) retrieval over the tf postings index
    "search_and" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val q = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(wordsCol(col("text")), 1, 3))).as("term"))
      Bm25.booleanAnd(Bm25.index(docs, "doc_id", "text"), q)
        .select(col("query_id"), col("doc").as("doc_id"))
    }),
    // ---- LLM-pipeline: text analysis --------------------------------------
    "text_tokens" -> ((s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
        wsTokenCount(col("text")).as("ws_tokens"),
        regexTokenCount(col("text")).as("re_tokens"))
    }),
    "text_quality" -> ((s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
        qualityScoreCol(col("text")).as("quality"))
    }),
    "text_langid" -> ((s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
        langIdCol(wordsCol(col("text"))).as("langid"))
    }),
    // MIXED-language detection (r17): language-ID per document HALF — a doc
    // whose head and tail disagree is code-switched/stitched content that a
    // single whole-doc language label silently mislabels (the standard
    // filter before per-language mixing). The ASCII corpus is monolingual,
    // so every 5th doc gets a synthesized German tail (3× a 6-stopword
    // phrase = 18 German hits; the max English stopword count in any tail
    // half is 9 at sf0.1, so the verdict is deterministic, not data-luck).
    // Pure per-row scalars — zero exchanges.
    "text_langid_mixed" -> ((s, dir) => {
      val half = expr("substring(text, 1, CAST(length(text)/2 AS INT))")
      val tail0 = expr("substring(text, CAST(length(text)/2 AS INT) + 1)")
      val tail = concat(tail0,
        when(col("doc_id") % 5 === 0,
          repeat(lit(" und der die das ist nicht"), 3)).otherwise(lit("")))
      rd(s, dir, "documents").select(col("doc_id"),
        langIdCol(wordsCol(half)).as("lang_head"),
        langIdCol(wordsCol(tail)).as("lang_tail"))
        .withColumn("is_mixed",
          when(col("lang_head") =!= col("lang_tail"), 1L).otherwise(0L))
    }),
    "text_fingerprint" -> ((s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
        tHashUdf(col("text")).as("fingerprint"))
    }),
    "text_topterms" -> ((s, dir) => {
      val words = rd(s, dir, "documents")
        .select(col("lang"), explode(wordsCol(col("text"))).as("word"))
      val counts = words.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("word").asc)
      counts.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        .select(col("lang"), col("word"), col("n"), col("rnk").cast("long").as("rnk"))
    }),
    "sample_split" -> ((s, dir) =>
      Sampling.withSplit(rd(s, dir, "documents"), "doc_id", 80, 10)
        .select(col("doc_id"), col("bucket"), col("split"))),
    // leakage-safe split: every exact duplicate co-assigns (split key = the
    // duplicate group's canonical id, not the row id)
    "sample_split_grouped" -> ((s, dir) =>
      Sampling.splitByDuplicateGroup(rd(s, dir, "documents"), "doc_id", "text", 80, 10)
        .select(col("doc_id"), col("canonical_id"), col("bucket"), col("split"))),
    // ...and the NEAR-dup upgrade: split key = the MinHash-LSH cluster label,
    // so fuzzy variants the exact hash misses also co-assign — the
    // leakage-control bar dedup evals actually require
    "sample_split_clusters" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val labels = ConnectedComponents.run(docs,
        "doc_id", Dedup.minHashLshPairs(docs, "doc_id", "text", 0.8), "id_a", "id_b")
      Sampling.splitByCluster(labels, "doc_id", "component", 80, 10)
        .select(col("doc_id"), col("component"), col("bucket"), col("split"))
    }),
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowPairs(rd(s, dir, "documents"), "doc_id", "text", minShared = 5L,
        maxDocFrequency = 100L)),
    "text_winnow" -> ((s, dir) =>
      rd(s, dir, "documents").select(col("doc_id"),
        explode(TextFunctions.winnowUdf(8, 4)(col("text"))).as("fingerprint"))),
    // match-span REPORTING: where each shared passage starts on both sides
    "dedup_winnow_spans" -> ((s, dir) =>
      Dedup.winnowSpans(rd(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", maxDocFrequency = 100L)),
    // exact-substring dedup: maximal corpus-duplicated passages per document
    // (every 20-gram in the span occurs in >= 2 docs)
    "dedup_substring" -> ((s, dir) =>
      Dedup.duplicateSpans(rd(s, dir, "documents"), "doc_id", "text", k = 20)),
    // total-occurrence rule: within-doc repeats also qualify (self-repetition
    // / boilerplate-loop detection — the literal Lee et al. second-occurrence
    // criterion)
    "dedup_substring_self" -> ((s, dir) =>
      Dedup.duplicateSpansAll(rd(s, dir, "documents"), "doc_id", "text", k = 20)),
    // per-doc duplication fraction — the drop-the-doc decision signal
    // (3 longs per doc; a threshold filter at 100 TB ships no text)
    "dedup_substring_stats" -> ((s, dir) =>
      Dedup.spanDuplicationStats(rd(s, dir, "documents"), "doc_id", "text", k = 20)),
    // weighted sample without replacement: priority sampling on exact integer
    // priorities — length-weighted top-64 of the corpus
    "weighted_sample" -> ((s, dir) =>
      Sampling.weightedTopK(rd(s, dir, "documents"), "doc_id", "n_chars", 64)),
    // ...and the per-source quota form: best 16 docs of EACH source,
    // length-weighted (WindowGroupLimit plan — no global sort, no full-group
    // materialization)
    "weighted_sample_by_source" -> ((s, dir) =>
      Sampling.weightedTopKByGroup(
        rd(s, dir, "documents"), "doc_id", "n_chars", "source", 16)),
    // mixture planning: per-source repeat factors for a weighted mixture
    // (shares 30-70 milli over the 20 sources, 100k-char budget)
    "mixture_epochs" -> ((s, dir) =>
      Sampling.mixtureEpochs(rd(s, dir, "documents"), "source", "n_chars",
        (0 until 20).map(i => s"src$i" -> ((i % 5) * 10L + 30L)).toMap, 100000L)),
    // temperature-scaled (τ=0.5) per-source mixture shares, integer-exact
    "mixture_temperature" -> ((s, dir) =>
      Sampling.temperatureShares(rd(s, dir, "documents"), "source", 10000L, 500)),
    // signed-random-projection JL reduction to 8 dims, micro-unit exact
    // (gate shape: one row per dim — the array-cell comparator limit, r3)
    "emb_project" -> ((s, dir) =>
      Embeddings.projectSrp(rd(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .filter(col("proj").isNotNull)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "proj_micro")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("proj_micro"))),
    // co-bucketed layout demo: both sides written bucketed by the join key,
    // read back via the catalog, joined + aggregated with zero exchanges
    // (plan pinned in PlanSpec; the ROWS are layout-independent — the oracle
    // is the plain parquet join)
    "bucketed_join" -> ((s, dir) => {
      val cust = rd(s, dir, "customer").select(col("c_custkey"))
      val ord = rd(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      graft.sources.BucketedTable
        .cobucketedJoin(cust, ord, "c_custkey", 8, s"gb_${math.abs(dir.hashCode)}")
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")).as("total_cents"))
    }),
    // ...and the REMOVAL form: documents rewritten with those spans cut out
    "dedup_substring_clean" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(rd(s, dir, "documents"), "doc_id", "text", k = 20)),
    // word-unit spans (the Lee et al. token granularity)
    "dedup_substring_words" -> ((s, dir) =>
      Dedup.duplicateSpansWords(rd(s, dir, "documents"), "doc_id", "text", n = 8)),
    // ...and the word-unit REMOVAL form: word spans mapped to char intervals
    // (first char of the first word through last char of the last) and cut
    "dedup_substring_words_clean" -> ((s, dir) =>
      Dedup.removeDuplicateSpansWords(rd(s, dir, "documents"), "doc_id", "text", n = 8)),
    // span-level decontamination: the exact corpus passages leaked from the
    // benchmark slice, and the surgical cut that keeps the rest of each doc
    "decontaminate_spans" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.contaminatedSpans(docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text")
    }),
    // release-gate number: fraction of bench k-grams present in the corpus
    "bench_coverage" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.benchCoverage(docs.filter(col("doc_id") >= 5), "text",
        docs.filter(col("doc_id") < 5), "text", 20)
    }),
    "decontaminate_spans_clean" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.removeContaminatedSpans(docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text")
    }),
    // huge-bench path: Bloom screen before the exchange, exact verify by
    // shuffle join — result-identical to decontaminate_spans (same oracle)
    "decontaminate_spans_bloom" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Decontaminate.contaminatedSpansBloom(docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text")
    }),
    "text_xent" -> ((s, dir) =>
      CorpusStats.unigramLogLoss(rd(s, dir, "documents"), "doc_id", "text")),
    // CCNet-style: LM trained on the trusted slice only, all docs scored
    "text_xent_ref" -> ((s, dir) =>
      CorpusStats.refUnigramLogLoss(rd(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0")),
    "text_char_entropy" -> ((s, dir) =>
      CorpusStats.charEntropy(rd(s, dir, "documents"), "doc_id", "text")),
    "text_xent2" -> ((s, dir) =>
      CorpusStats.bigramLogLoss(rd(s, dir, "documents"), "doc_id", "text")),
    "text_xent3" -> ((s, dir) =>
      CorpusStats.trigramLogLoss(rd(s, dir, "documents"), "doc_id", "text")),
    // Gopher repetition filter: chars covered by the most frequent bigram
    "text_rep_ngram" -> ((s, dir) =>
      CorpusStats.topNgramCharFraction(rd(s, dir, "documents"), "doc_id", "text", 2)),
    // exact corpus length percentiles (nearest-rank, no approxQuantile drift)
    "len_percentiles" -> ((s, dir) =>
      CorpusStats.exactPercentiles(
        rd(s, dir, "documents").select(col("n_chars")), "n_chars", Seq(50, 90, 99))),
    // exact fixed-range length histogram (profiling primitive)
    "len_hist" -> ((s, dir) =>
      CorpusStats.exactHistogram(
        rd(s, dir, "documents").select(col("n_chars")), "n_chars", 0.0, 600.0, 12)),
    // Zipf-law slope: one-number corpus health check — integer milli-nat
    // least squares over the frequency spectrum
    "zipf_slope" -> ((s, dir) =>
      CorpusStats.zipfSlope(rd(s, dir, "documents"), "doc_id", "text",
        maxRank = 500)),
    // LSH-banding recall audit: measured fraction of true near-dup pairs the
    // banding path surfaces — justify the parameters before the 100 TB run
    "dedup_lsh_audit" -> ((s, dir) =>
      Dedup.lshAuditReport(rd(s, dir, "documents"), "doc_id", "text", 0.8)),
    // ANALYZE-style per-column profile: |columns| output rows regardless of
    // corpus size — the new-snapshot sanity check and drift diff input
    "profile_docs" -> ((s, dir) =>
      TableProfile.profile(rd(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // integer-exact PageRank on the kNN graph: semantic-hub centrality as a
    // curation signal; per iteration one edge join + one dst aggregation
    "graph_pagerank" -> ((s, dir) =>
      GraphRank.pageRank(
        Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3, 8, 2),
        "src", "nbr", nIters = 3, dampingMilli = 850)),
    // convergence receipt: were 3 iterations enough? one-row L1/max gap
    "graph_pagerank_delta" -> ((s, dir) =>
      GraphRank.pageRankDelta(
        Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3, 8, 2),
        "src", "nbr", nIters = 3, dampingMilli = 850)),
    // personalized PageRank: teleport only to a seed set — random-walk
    // proximity to a curated set ("find more like these")
    "graph_ppr" -> ((s, dir) =>
      GraphRank.personalizedPageRank(
        Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3, 8, 2),
        "src", "nbr",
        rd(s, dir, "embeddings").filter(col("vec_id") < 10).select("vec_id"),
        "vec_id", nIters = 3, dampingMilli = 850)),
    // per-node triangle participation on the kNN graph (local-density signal)
    "graph_triangles" -> ((s, dir) =>
      GraphRank.triangleCounts(
        Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3, 8, 2),
        "src", "nbr")),
    // integer-exact unnormalized HITS (ranking-equivalent to normalized form)
    "graph_hits" -> ((s, dir) =>
      GraphRank.hits(
        Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3, 8, 2),
        "src", "nbr", nIters = 2)),
    // local clustering coefficient in exact micro-units
    "graph_clustering" -> ((s, dir) =>
      GraphRank.clusteringCoefficient(
        Dedup.knnGraph(rd(s, dir, "embeddings"), "vec_id", "embedding", 3, 8, 2),
        "src", "nbr")),
    // rendezvous (highest-random-weight) sharding: stable under shard-count
    // growth — only rows whose argmax IS the new shard move
    "shard_rendezvous" -> ((s, dir) =>
      Packing.rendezvousShard(
        rd(s, dir, "documents").select("doc_id"), "doc_id", nShards = 10)),
    // JSONL round trip: the corpus-interchange text format; explicit-schema
    // FAILFAST read, text hashed bit-exactly after JSON escaping both ways
    "source_jsonl" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val base = s"${sys.props("java.io.tmpdir")}/graft_jsonl/jl_${math.abs(dir.hashCode)}"
      graft.sources.JsonlTable.write(docs, base)
      graft.sources.JsonlTable.read(s, base, docs.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"), col("source"))
    }),
    // CSV round trip (RFC 4180 quoting both ways, FAILFAST explicit-schema
    // read): text must hash bit-exactly after the disk round trip
    "source_csv" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val base = s"${sys.props("java.io.tmpdir")}/graft_csv/cv_${math.abs(dir.hashCode)}"
      graft.sources.CsvTable.write(docs, base)
      graft.sources.CsvTable.read(s, base, docs.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"), col("source"))
    }),
    // compaction sink + manifest-pruned scan: write ceil(n/64) range-
    // partitioned files + a min/max manifest, then answer a range query
    // opening only intersecting files — result must equal scan+filter
    "source_compacted" -> ((s, dir) => {
      val docs = rd(s, dir, "documents").select("doc_id", "text", "n_chars")
      val base = s"${sys.props("java.io.tmpdir")}/graft_compact/ct_${math.abs(dir.hashCode)}"
      graft.sources.CompactTable.writeCompacted(docs, base, "n_chars", targetRowsPerFile = 64L)
      graft.sources.CompactTable.prunedRead(s, base, "n_chars", 200L, 500L)
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("text_md5"))
    }),
    // the WRITE path: HRW-sharded partitioned-parquet round trip (the gate
    // covers the sink layout itself — assignment is re-read from disk)
    "sink_sharded" -> ((s, dir) => {
      val sharded = Packing.rendezvousShard(
        rd(s, dir, "documents").select("doc_id"), "doc_id", nShards = 8)
      val base = s"${sys.props("java.io.tmpdir")}/graft_sharded/ss_${math.abs(dir.hashCode)}"
      graft.sources.ShardedSink.write(sharded, base, "shard")
      graft.sources.ShardedSink.read(s, base).select(col("doc_id"), col("shard"))
    }),
    // PMI collocations: phrase mining in integer micro-nats — the
    // tokenizer-seeding statistic, reduction-order-proof ranking
    "collocations" -> ((s, dir) =>
      CorpusStats.collocations(rd(s, dir, "documents"), "text",
        minCount = 3L, topK = 100)),
    // one-row corpus dashboard: the new-snapshot sanity read in ONE pass
    // (plus the distinct-digest dup count) — every value integer-exact
    "corpus_health" -> ((s, dir) =>
      rd(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        sum(wsTokenCount(col("text"))).as("total_tokens"),
        (count(lit(1)) - count_distinct(md5(col("text")))).as("dup_docs"),
        expr("sum(n_chars) * 1000000L div count(*)").as("mean_chars_micro"))),
    // ±2-token skip-gram PMI: the word2vec counting window
    "cooccurrence" -> ((s, dir) =>
      CorpusStats.cooccurrence(rd(s, dir, "documents"), "text",
        window = 2, minCount = 3L, topK = 100)),
    // Z-order (Morton) layout key: the data-layout lever — range-partition +
    // sort by zkey co-locates embedding-space neighbors for scan pruning
    "layout_zorder" -> ((s, dir) =>
      Embeddings.zorderKey(rd(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 4, bits = 8)),
    // dominant principal direction by integer-exact power iteration — the
    // embedding-space drift/anisotropy/debias read
    "emb_power_iter" -> ((s, dir) =>
      Embeddings.powerIteration(rd(s, dir, "embeddings"), "embedding",
        dims = 16, nIters = 3)),
    // geometry drift receipt: cosine between the even/odd slices' dominant
    // directions — "did the embedding space rotate", one row
    "emb_drift" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      Embeddings.directionDrift(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "embedding", dims = 16, nIters = 3)
    }),
    // PC2 by Hotelling deflation: λ·uuᵀ/uᵀu removed from the co-moment
    // matrix, same integer power loop on the deflated cells
    "emb_pca2" -> ((s, dir) =>
      Embeddings.secondComponent(rd(s, dir, "embeddings"), "embedding",
        dims = 16, nIters = 3)),
    // the debias move itself: subtract each vector's projection onto that
    // direction — pure per-row map once the d-number direction is known
    "emb_debias" -> ((s, dir) =>
      Embeddings.removeTopComponent(rd(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 16, nIters = 3)),
    // the OPTIMIZE ZORDER move end-to-end: lay the table out compacted BY
    // the Morton key, then answer a zkey range with manifest file skipping —
    // an embedding-neighborhood scan that opens only intersecting files
    "layout_pruned" -> ((s, dir) => {
      val zk = Embeddings.zorderKey(rd(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 4, bits = 8)
      val base = s"${sys.props("java.io.tmpdir")}/graft_zcompact/zc_${math.abs(dir.hashCode)}"
      graft.sources.CompactTable.writeCompacted(zk, base, "zkey", targetRowsPerFile = 64L)
      graft.sources.CompactTable.prunedRead(s, base, "zkey", 0L, 2147483647L)
        .select(col("vec_id"), col("zkey"))
    }),
    // count-min-sketch heavy hitters: depth×width mergeable sketch, estimate
    // = min over the depth cells — deterministic hashes make the one-sided
    // estimate itself oracle-checkable
    "tokens_cms_topk" -> ((s, dir) =>
      CorpusStats.cmsTopTokens(rd(s, dir, "documents"), "text",
        width = 1024, depth = 4, topK = 50)),
    // dyadic-CMS rank sketch: mergeable "how many docs shorter than y"
    // estimates from ≤ levels·depth·width cells, audited vs the exact rank
    "len_rank_sketch" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val probes = Seq(128L, 512L, 1024L, 2048L, 4096L)
      val sk = CorpusStats.dyadicCmsSketch(docs, "n_chars", levels = 16,
        width = 512, depth = 4)
      val est = CorpusStats.cmsRankEstimates(sk, probes, levels = 16,
        width = 512, depth = 4)
      val clamped = docs.where(col("n_chars").isNotNull)
        .select(least(greatest(col("n_chars").cast("long"), lit(0L)),
          lit((1L << 16) - 1L)).as("__v"))
      val pdf = s.createDataFrame(s.sparkContext.parallelize(
          probes.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("probe",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val exact = clamped.crossJoin(broadcast(pdf))
        .filter(col("__v") < col("probe"))
        .groupBy(col("probe")).agg(count(lit(1)).as("true_rank"))
      est.join(exact, Seq("probe"), "left")
        .select(col("probe"), col("est_rank"),
          coalesce(col("true_rank"), lit(0L)).as("true_rank"))
    }),
    // PSI drift: the snapshot-vs-snapshot distribution-shift monitor in
    // integer micro-units (even/odd id split stands in for two crawls)
    "drift_psi" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      CorpusStats.psiDrift(
        d.where(expr("doc_id % 2 = 0")), d.where(expr("doc_id % 2 = 1")),
        "n_chars", 0.0, 600.0, 12)
    }),
    // the BPE trainer LOOP (not just round-1 candidates): 8 learned merges
    "bpe_merges" -> ((s, dir) =>
      CorpusStats.bpeTrainMerges(rd(s, dir, "documents"), "text", 8)),
    // the APPLY face: final vocabulary segmentation under those merges —
    // the word -> subword table an encoder broadcast-joins at corpus scale
    "bpe_segments" -> ((s, dir) =>
      CorpusStats.bpeSegmentWords(rd(s, dir, "documents"), "text", 8)),
    // the ENCODE face: corpus scanned once, segmentation rides a broadcast
    "bpe_encode" -> ((s, dir) =>
      CorpusStats.bpeEncodeStats(rd(s, dir, "documents"), "doc_id", "text", 8)),
    // tokenizer fertility by source: subwords/word and chars/subword under
    // the learned merges — the which-domain-fragments diagnostic
    "bpe_fertility" -> ((s, dir) =>
      CorpusStats.bpeFertilityBySource(rd(s, dir, "documents"), "source", "text", 8)),
    // unigram-LM (SentencePiece-style) trainer: substring seeding, then EM
    // rounds of greedy-segment + usage-ranked prune (64 -> 48 -> 32 shrink
    // schedule); pieces = the shipped vocabulary artifact with usage counts
    "ulm_pieces" -> ((s, dir) =>
      CorpusStats.ulmPieces(rd(s, dir, "documents"), "text")),
    // the APPLY face: greedy longest-match segmentation of every vocabulary
    // word under the learned pieces (broadcast-join encode shape downstream)
    "ulm_segments" -> ((s, dir) =>
      CorpusStats.ulmSegmentWords(rd(s, dir, "documents"), "text")),
    // KS drift: the worst single CDF gap (catches localized shifts PSI smears)
    "drift_ks" -> ((s, dir) => {
      val d = rd(s, dir, "documents")
      CorpusStats.ksDrift(
        d.where(expr("doc_id % 2 = 0")), d.where(expr("doc_id % 2 = 1")),
        "n_chars", 0.0, 600.0, 12)
    }),
    // which-source-drifted rollup: each source's distribution vs the corpus
    "drift_psi_by_source" -> ((s, dir) =>
      CorpusStats.psiDriftByGroup(rd(s, dir, "documents"), "source", "n_chars",
        0.0, 600.0, 12)),
    // hashed linear classifier inference (fastText shape): deterministic
    // HRW-mix weights stand in for a learned export; the hashing + broadcast
    // + integer scoring plumbing is the operator under test
    "quality_classifier" -> ((s, dir) => {
      val w = s.range(256).select(col("id").as("bucket"),
        expr("(id % 1000003) * 8191 % 1000003 * 2654435761L % 1000003").as("w_micro"))
      CorpusStats.linearTextScore(rd(s, dir, "documents"), "doc_id", "text", w, 256)
    }),
    // rank-blend ensemble of two quality signals (no score normalization)
    "quality_ensemble" -> ((s, dir) =>
      CorpusStats.ensembleRank(
        rd(s, dir, "documents").select(col("doc_id"),
          qualityScoreCol(col("text")).as("quality"),
          repetitionRatioCol(col("text")).as("rep_ratio")),
        "doc_id", Seq(("quality", true), ("rep_ratio", false)))),
    // ntile without ntile's one-task window: DenseRank-based decile buckets
    "quality_deciles" -> ((s, dir) =>
      CorpusStats.quantileBuckets(
        rd(s, dir, "documents").select(col("doc_id"),
          qualityScoreCol(col("text")).as("quality")),
        "doc_id", "quality", buckets = 10)),
    // the composed sketch pipeline: CMS heavy hitters become the stopword
    // list; per-doc ratio in exact integer micro-units
    "stopword_ratio" -> ((s, dir) =>
      CorpusStats.derivedStopwordRatio(rd(s, dir, "documents"), "doc_id", "text",
        width = 1024, depth = 4, topK = 50)),
    // BPE tokenizer-training statistic: top adjacent char-pair counts
    "bpe_pairs" -> ((s, dir) =>
      CorpusStats.bpePairCounts(rd(s, dir, "documents"), "text", 20)),
    // bounded KMV sketch: distinct users per event type without shuffling
    // the values — deterministic hash, so the estimate itself is hash-pinned
    "kmv_distinct" -> ((s, dir) =>
      CorpusStats.approxDistinctByGroup(
        rd(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id", k = 32)),
    // sketch algebra: user-overlap estimates between event types, computed
    // entirely from the bottom-k sketches (pure column algebra, no UDF)
    "kmv_overlap" -> ((s, dir) =>
      CorpusStats.kmvGroupOverlap(
        rd(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id", k = 32)),
    "pack_shards" -> ((s, dir) =>
      Packing.packByBudget(
        rd(s, dir, "documents").select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 10000L)),
    // fixed-length token-stream chunk spans: which training sequences each
    // doc lands in + boundary-straddle count (the attention-mask read)
    "pack_chunk_spans" -> ((s, dir) =>
      Packing.chunkSpans(
        rd(s, dir, "documents").select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 1024L)),
    // greedy per-source context-window packing (no doc straddles a bin); the
    // oracle unrolls the same fold as a recursive CTE over row_number chains
    "pack_greedy" -> ((s, dir) =>
      Packing.packGreedy(
        rd(s, dir, "documents")
          .select(col("source"), col("doc_id"), wsTokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", 1024L)),
    "shuffle_order" -> ((s, dir) =>
      Sampling.withShuffleOrder(rd(s, dir, "documents").select(col("doc_id")), "doc_id")),
    "quality_filter" -> ((s, dir) =>
      CorpusStats.keepTopPercent(
        rd(s, dir, "documents").select(col("doc_id"), qualityScoreCol(col("text")).as("quality")),
        "doc_id", "quality", 60)),
    // per-source percentile cut: best 60% of EACH source, so no source
    // dominates the surviving mix
    "quality_filter_by_source" -> ((s, dir) =>
      CorpusStats.keepTopPercentByGroup(
        rd(s, dir, "documents").select(col("doc_id"), col("source"),
          qualityScoreCol(col("text")).as("quality")),
        "doc_id", "quality", "source", 60)),
    // per-source quota: cap an over-represented source deterministically
    // (documents.source is a real column — no synthetic labeling needed)
    "source_cap" -> ((s, dir) =>
      Sampling.withSourceCap(
        rd(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", 10)),
    "mixture_order" -> ((s, dir) =>
      Sampling.withMixtureOrder(
        rd(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "a").when(col("doc_id") % 3 === 1, "b")
            .otherwise("c").as("source")),
        "doc_id", "source", Map("a" -> 3L, "b" -> 2L, "c" -> 1L))),
    "text_redact" -> ((s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
        redactPiiCol(col("text")).as("redacted"))
    }),
    // PII detection audit, per-doc (r17): occurrence counts per PII class —
    // the count-before-scrub read that decides whether a source ships at
    // all. The word-salad corpus carries no PII, so the gate SYNTHESIZES
    // emails/phones/URLs deterministically from doc fields (the url_*
    // stance); the oracle builds the identical strings. Pure per-row
    // codegen'd scalars — zero exchanges.
    "pii_scan" -> ((s, dir) => {
      val synth = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@"),
            col("source"), lit(".example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" see https://"), col("source"), lit(".example.org/d/"),
            col("doc_id").cast("string"))).otherwise(lit("")))
      rd(s, dir, "documents").select(col("doc_id"),
        TextFunctions.matchCount(synth, TextFunctions.EmailPattern).as("n_emails"),
        TextFunctions.matchCount(synth, TextFunctions.PhonePattern).as("n_phones"),
        TextFunctions.matchCount(synth, TextFunctions.UrlPattern).as("n_urls"))
    }),
    // streaming scrub-at-the-door face (r17): PII redaction + whitespace
    // canonicalization as a stateless per-row map — the SAME transform runs
    // on a readStream frame (StreamReplayProps pins split-invariance); this
    // gate runs the batch face on the synthesized-PII corpus
    "stream_scrub_batch" -> ((s, dir) => {
      val synth = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@"),
            col("source"), lit(".example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" see https://"), col("source"), lit(".example.org/d/"),
            col("doc_id").cast("string"))).otherwise(lit("")))
      graft.streaming.StreamScrub.scrub(
        rd(s, dir, "documents").select(col("doc_id"), synth.as("text")),
        "doc_id", "text")
    }),
    // ...and the per-source rollup a release review reads: how many docs in
    // each source carry each PII class, and how many occurrences total
    "pii_report" -> ((s, dir) => {
      val synth = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@"),
            col("source"), lit(".example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" see https://"), col("source"), lit(".example.org/d/"),
            col("doc_id").cast("string"))).otherwise(lit("")))
      rd(s, dir, "documents")
        .select(col("source"),
          TextFunctions.matchCount(synth, TextFunctions.EmailPattern).as("__e"),
          TextFunctions.matchCount(synth, TextFunctions.PhonePattern).as("__p"),
          TextFunctions.matchCount(synth, TextFunctions.UrlPattern).as("__u"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__e") > 0, 1L).otherwise(0L)).as("docs_email"),
          sum(when(col("__p") > 0, 1L).otherwise(0L)).as("docs_phone"),
          sum(when(col("__u") > 0, 1L).otherwise(0L)).as("docs_url"),
          sum(col("__e")).as("n_emails"),
          sum(col("__p")).as("n_phones"),
          sum(col("__u")).as("n_urls"))
    }),
    // canonicalize-before-hash: control chars -> space, whitespace collapse,
    // trim — formatting-only variants dedup identically afterwards
    "text_normalize" -> ((s, dir) =>
      rd(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("n_before"),
        length(normalizeTextCol(col("text"))).cast("long").as("n_after"),
        md5(normalizeTextCol(col("text"))).as("norm_md5"))),
    // Unicode NFC canonicalization (UnicodeNormExpr / java.text.Normalizer vs
    // DuckDB nfc_normalize). The synthetic corpus is ASCII — where NFC is the
    // identity and would only exercise the fast path — so each doc is probed
    // with a decomposed accent (e + U+0301 -> é) and the ﬁ ligature (U+FB01,
    // which NFC must PRESERVE — composition without compatibility folding):
    // n_before counts 4 probe code points, n_after 3, and the hash pins the
    // composed byte sequence.
    "text_normalize_nfc" -> ((s, dir) => {
      val probed = concat(lit("e\u0301\uFB01 "), col("text"))
      rd(s, dir, "documents").select(col("doc_id"),
        length(probed).cast("long").as("n_before"),
        length(TextFunctions.nfcCol(probed)).cast("long").as("n_after"),
        md5(TextFunctions.nfcCol(probed)).as("norm_md5"))
    }),
    "text_repetition" -> ((s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
        repetitionRatioCol(col("text")).as("rep_ratio"))
    }),
    "text_chunks" -> ((s, dir) => {
      rd(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFunctions.chunkWordsUdf(40, 5)(col("text"))).as(Seq("chunk_index", "chunk")))
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          col("chunk"), size(split(col("chunk"), " ")).cast("long").as("n_words"))
    }),
    // Gate shape: scalar (vec_id, dim, value) rows — the driver's pandas
    // comparator cannot sort raw array cells (r3 err rows), so the gate
    // posexplodes; the array-returning operators stay the public API.
    "emb_quantize" -> ((s, dir) =>
      Embeddings.quantizeInt8(rd(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          posexplode(col("q")).as(Seq("dim", "q_value")))
        .select(col("vec_id"), col("scale"),
          col("dim").cast("long").as("dim"), col("q_value"))),
    "emb_normalize" -> ((s, dir) =>
      rd(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(Embeddings.l2NormalizeCol(col("embedding"))).as(Seq("dim", "u")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          round(col("u"), 6).as("unit_value"))),
    // Matryoshka truncation: 16-dim prefix re-normalized (MRL storage dial)
    "emb_truncate" -> ((s, dir) =>
      Embeddings.truncate(rd(s, dir, "embeddings"), "vec_id", "embedding", 16)
        .select(col("vec_id"), posexplode(col("vec_trunc")).as(Seq("dim", "u")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          round(col("u"), 6).as("unit_value"))),
    "emb_centroids" -> ((s, dir) => {
      // per-element values quantized to exact integer micro-units BEFORE the
      // sum: a raw double avg is perturbed by distributed reduction order and
      // round(4) flips at boundaries (observed at sf0.001) — integer sums are
      // order-invariant, the house determinism technique
      rd(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(floor(col("v").cast("double") * lit(1000000.0) + lit(0.5)).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .select(col("label").cast("long").as("label"), col("dim").cast("long").as("dim"),
          round(col("__s").cast("double") / (col("__n").cast("double") * lit(1000000.0)), 4)
            .as("centroid"))
    }),
    // ---- LLM-pipeline: multimodal plumbing --------------------------------
    "mm_meta" -> ((s, dir) => {
      val withPayload = Multimodal.withBinaryPayload(rd(s, dir, "documents"), "text", "payload")
      Multimodal.withDecodedMeta(withPayload, "payload")
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_sha"))
    }),
    // the feature-extraction stage of the multimodal pipeline (mapPartitions
    // batch shape), reshaped to scalar (doc_id, d, value) rows for the
    // comparator; the float32 histogram division is cast to double AFTER the
    // fold so both engines round the identical value
    "mm_features" -> ((s, dir) => {
      val withPayload = Multimodal.withBinaryPayload(rd(s, dir, "documents"), "text", "payload")
      Multimodal.extractFeatures(withPayload, "doc_id", "payload", 16)
        .select(col("id").as("doc_id"), posexplode(col("features")).as(Seq("d", "value")))
        .select(col("doc_id"), col("d").cast("long").as("d"),
          round(col("value").cast("double"), 6).as("value"))
    }),
    // ---- streaming-compatible windowed aggregation ------------------------
    // deterministic per-user action sequences: sort_array(collect_list(struct))
    // makes the aggregation layout-independent — the training-sequence builder
    "events_user_seq" -> ((s, dir) =>
      Sequences.userEventSequences(rd(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id")),
    // ordered funnel, chained-earliest-match; one shuffle + array fold (the
    // oracle's k-join chained-min formulation is provably equivalent)
    "events_funnel" -> ((s, dir) =>
      Funnel.funnel(s, rd(s, dir, "events"), "user_id", "event_type",
        "event_id", Seq("signup", "view", "click", "purchase"))),
    "events_retention" -> ((s, dir) =>
      Funnel.retention(rd(s, dir, "events"), "user_id")),
    // first-order Markov transition counts over per-user (ts, id) order
    "events_transitions" -> ((s, dir) =>
      EventStats.transitions(rd(s, dir, "events"), "user_id", "event_type", "event_id")),
    // telemetry debounce: duplicate iff the previous identical (user, type)
    // event fired within 60s — exact integer-µs window
    "events_debounce" -> ((s, dir) =>
      EventStats.debounce(rd(s, dir, "events"), "user_id", "event_type", "event_id",
        windowUs = 60L * 1000000L)),
    // hourly burst flags: |c − μ| > 2σ with all divisions multiplied through
    "events_anomaly" -> ((s, dir) =>
      EventStats.hourlyAnomalies(rd(s, dir, "events"), "event_type", sigmaK = 2)),
    // top user journeys: full-path frequency with a deterministic tiebreak
    "events_top_paths" -> ((s, dir) =>
      Sequences.userEventSequences(rd(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id")
        .groupBy(col("seq")).agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("seq")).limit(20)),
    // trailing-7-day revenue: pre-aggregate to day grain, then a bounded
    // self-join — never a partition-less RANGE window over the raw table
    "orders_rolling7" -> ((s, dir) =>
      Rolling.trailingDailySum(rd(s, dir, "orders"), "o_orderdate", "o_totalprice", 7)),
    // the star-join shape: fact shuffles once onto the customer key; the
    // nation→region dim chain rides BROADCAST hash joins (plan-audited)
    "orders_by_region" -> ((s, dir) =>
      rd(s, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("__cents"))
        .join(rd(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(rd(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(rd(s, dir, "region").select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), sum(col("__cents")).as("revenue_cents"))),
    // TPC-H Q5 shape: local-supplier volume — the canonical 6-table plan.
    // orders⋈customer shuffles on the customer key, lineitem (the big fact)
    // shuffles ONCE on the order key into that; supplier/nation/region are
    // dims and ride BroadcastHashJoins; the customer-nation = supplier-nation
    // locality predicate applies after the broadcast supplier join
    "orders_local_volume" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val o = rd(s, dir, "orders")
        .filter(col("o_orderdate").cast("timestamp") >= lo &&
          col("o_orderdate").cast("timestamp") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val l = rd(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0)
            + lit(0.5)).cast("long").as("__cents"))
      val sup = rd(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = rd(s, dir, "nation")
      val r = rd(s, dir, "region").filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), sum(col("__cents")).as("revenue_cents"))
    }),
    // session-duration mix: fixed integer-µs boundaries over the session
    // relation (exact comparisons — no float log bucketing)
    "sessions_duration" -> ((s, dir) =>
      graft.streaming.Sessionize.sessions(rd(s, dir, "events"), 1800000000L)
        .withColumn("bucket",
          when(col("end_us") - col("start_us") < 60000000L, "a_under_1m")
            .when(col("end_us") - col("start_us") < 600000000L, "b_1m_10m")
            .when(col("end_us") - col("start_us") < 1800000000L, "c_10m_30m")
            .otherwise("d_over_30m"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_sessions"))),
    // the TPC-H Q1 shape: grouped pricing summary with every double product
    // quantized per-row BEFORE the sums (reduction-order-proof money math)
    // TPC-H Q3 shape: top unshipped orders by quantized revenue — fact-fact
    // join on the order key, segment-filtered customer dim broadcast
    "orders_unshipped" -> ((s, dir) => {
      val cut = lit("1998-06-01").cast("timestamp")
      val c = rd(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = rd(s, dir, "orders").filter(col("o_orderdate").cast("timestamp") < cut)
      val l = rd(s, dir, "lineitem").filter(col("l_shipdate").cast("timestamp") > cut)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0)
          + lit(0.5)).cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    "lineitem_pricing" -> ((s, dir) =>
      rd(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("timestamp") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          sum(floor(col("l_quantity") * lit(1000000.0) + lit(0.5)).cast("long"))
            .as("sum_qty_micro"),
          sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
            .as("sum_base_cents"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0)
            + lit(0.5)).cast("long")).as("sum_disc_cents"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")) * lit(100.0) + lit(0.5)).cast("long"))
            .as("sum_charge_cents"))
        .withColumn("avg_qty_micro", expr("sum_qty_micro div count_order"))),
    // DAU / trailing-7-day WAU / integer stickiness ratio, over the compact
    // (day, user) distinct relation — never a rolling distinct on the raw log
    "events_dau_wau" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
      val du = ev.select(to_date(graft.streaming.EventTime.tsCol(ev)).as("day"),
        col("user_id")).distinct()
      val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = du.as("a").select(col("a.day").as("__d")).distinct()
        .join(du.as("b"),
          col("b.day") >= date_sub(col("__d"), 6) && col("b.day") <= col("__d"))
        .groupBy(col("__d").as("day"))
        .agg(count_distinct(col("b.user_id")).as("wau"))
      dau.join(wau, "day")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"), col("wau"),
          expr("dau * 1000000L div wau").as("stickiness_micro"))
    }),
    // CUSUM drift: sustained small shifts accumulate where the sigma rule
    // sees nothing; integer recurrence multiplied through by the day count
    "events_cusum" -> ((s, dir) =>
      EventStats.cusumDaily(rd(s, dir, "events"), "event_type",
        slack = 5L, threshold = 40L)),
    // robust outliers: |len − median| > 3·MAD, rank-selected exact medians
    "len_outliers" -> ((s, dir) =>
      CorpusStats.madOutliers(
        rd(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 3L)),
    // bot-regularity: gap CV < 1/4 with the division multiplied through
    "events_bots" -> ((s, dir) =>
      EventStats.botFlags(rd(s, dir, "events"), "user_id", "event_id",
        minEvents = 5, cvDenom = 4)),
    // RFM feature table: recency (µs), frequency, monetary (quantized)
    "events_rfm" -> ((s, dir) => {
      val ev = rd(s, dir, "events")
      ev.groupBy(col("user_id"))
        .agg(max(graft.streaming.EventTime.tsMicros(ev)).as("last_us"),
          count(lit(1)).as("n_events"),
          graft.streaming.EventTime.quantizedSum4(col("value")).as("total_value"))
    }),
    "events_windowed" -> ((s, dir) => EventWindows.hourlyByType(rd(s, dir, "events"))),
    "events_sliding" -> ((s, dir) => EventWindows.slidingTwoHourByType(rd(s, dir, "events"))),
    "events_sessions" -> ((s, dir) =>
      graft.streaming.Sessionize.sessions(rd(s, dir, "events"), 1800000000L)),
    "events_correlate" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      val ev = ev0.withColumn("ts", graft.streaming.EventTime.tsCol(ev0))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.streaming.StreamJoin.correlate(clicks, "event_id", views, "event_id",
        "user_id", "30 minutes", leftIdOut = "click_id", rightIdOut = "view_id")
    }),
    "events_props" -> ((s, dir) =>
      rd(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),
    // typed bounded top-k aggregator: per-user top events by value via the
    // partial+final aggregation path (map-side collapse to <= k rows before
    // the shuffle — the window-free top-n shape)
    "topk_agg" -> ((s, dir) =>
      graft.functions.TopKAgg.perKey(
        rd(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("value").isNotNull),
        "user_id", "event_id", "value", 3)),
    // bucketed point-in-interval join: purchases inside same-user click
    // sessions via an EQUI-join on (user, bucket) — no nested-loop range join
    "events_in_session" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"), col("event_type"),
        graft.streaming.EventTime.tsMicros(ev0).as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      // attribution window = session padded +/- 30 min (raw click sessions are
      // near-point-sized in this data; padding also exercises the
      // multi-bucket interval explode)
      val sess = graft.streaming.Sessionize
        .sessions(ev0.filter(col("event_type") === "click"), 1800000000L)
        .select(col("user_id"), col("session"),
          (col("start_us") - 1800000000L).as("win_start"),
          (col("end_us") + 1800000000L).as("win_end"))
      IntervalJoin.pointInInterval(purchases, "us", sess, "win_start", "win_end",
        bucketWidth = 1800000000L, keyCols = Seq("user_id"))
    }),
    // broadcast fast path: the session table collects into per-user sorted
    // interval arrays; purchases probe via expression — no point shuffle, no
    // bucket explode. Same oracle as events_in_session (row-identical).
    "events_in_session_bcast" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"), col("event_type"),
        graft.streaming.EventTime.tsMicros(ev0).as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val sess = graft.streaming.Sessionize
        .sessions(ev0.filter(col("event_type") === "click"), 1800000000L)
        .select(col("user_id"), col("session"),
          (col("start_us") - 1800000000L).as("win_start"),
          (col("end_us") + 1800000000L).as("win_end"))
      IntervalJoin.pointInIntervalBroadcast(purchases, "us", sess,
        "win_start", "win_end", keyCols = Seq("user_id"))
    }),
    // interval-overlap join: same-user click sessions x view sessions whose
    // padded windows intersect (first-shared-bucket dedup, no distinct)
    "sessions_overlap" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      def sess(t: String, p: String) = graft.streaming.Sessionize
        .sessions(ev0.filter(col("event_type") === t), 1800000000L)
        .select(col("user_id"), col("session").as(s"${p}_session"),
          (col("start_us") - 1800000000L).as(s"${p}_start"),
          (col("end_us") + 1800000000L).as(s"${p}_end"))
      IntervalJoin.intervalOverlap(sess("click", "c"), "c_start", "c_end",
        sess("view", "v"), "v_start", "v_end",
        bucketWidth = 1800000000L, keyCols = Seq("user_id"))
    }),
    // as-of join: each purchase matched to the user's most recent prior click
    // (µs-epoch Longs on both engines — see EventTime's precision note)
    "events_asof" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"), col("event_type"),
        graft.streaming.EventTime.tsMicros(ev0).as("us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
      AsOfJoin.asofJoin(purchases, clicks, "user_id", "us", "us",
          Seq("value" -> "matched_value"), "event_id")
        .withColumnRenamed("matched_ts", "matched_us")
    }),
    // the broadcast fast path must produce the identical result relation
    // (same oracle SQL as events_asof) with the left side never shuffled
    "events_asof_bcast" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"), col("event_type"),
        graft.streaming.EventTime.tsMicros(ev0).as("us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
      AsOfJoin.asofJoinBroadcast(purchases, clicks, "user_id", "us", "us",
          Seq("value" -> "matched_value"), "event_id")
        .withColumnRenamed("matched_ts", "matched_us")
    }),
    // nearest-direction as-of: smallest |Δt|, equal distance goes backward
    "events_asof_nearest" -> ((s, dir) => {
      val ev0 = rd(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"), col("event_type"),
        graft.streaming.EventTime.tsMicros(ev0).as("us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
      AsOfJoin.asofJoin(purchases, clicks, "user_id", "us", "us",
          Seq("value" -> "matched_value"), "event_id", direction = "nearest")
        .withColumnRenamed("matched_ts", "matched_us")
    }),
    // per-stratum deterministic downsampling (keep all of src1, half of src2,
    // none of src3, 25% of everything else — the mixture-curation shape)
    "stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
        rd(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", Map("src1" -> 100, "src2" -> 50, "src3" -> 0),
        defaultPct = 25)))

  private val partSel = "SELECT p_partkey AS id, p_name AS s FROM part"
  private val part300Sel = partSel + " WHERE p_partkey < 300"

  /** Power-of-two bucket CASE over a BIGINT df column — ONE Scala builder
    * emits both engines' text so the boundaries cannot diverge (bucket k ⇔
    * df ∈ [2^k, 2^(k+1)), capped at 16). */
  private def pow2BucketCase(c: String): String =
    (0 until 16).map(k => s"WHEN $c < ${1L << (k + 1)} THEN $k")
      .mkString("CASE ", " ", " ELSE 16 END")

  /** DuckDB-equivalent SQL per query. The "approximate" operators (ann_lsh,
    * dedup_minhash_lsh) use deterministic integer hash formulas, so their
    * bucketing/banding is mirrored EXACTLY in SQL — nothing is left on a
    * weaker rows-only check. */
  /** Shared by events_in_session and its broadcast fast path (row-identical
    * contract — one oracle keeps the two gates from diverging). */
  private val eventsInSessionSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
      |f AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
      |                 THEN 1 ELSE 0 END AS news
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |),
      |g AS (
      |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session
      |  FROM f
      |),
      |sess AS (
      |  SELECT user_id, CAST(session AS BIGINT) AS session,
      |         min(us) - 1800000000 AS win_start, max(us) + 1800000000 AS win_end
      |  FROM g GROUP BY 1, 2
      |),
      |p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id, p.us, s.session, s.win_start, s.win_end
      |FROM p JOIN sess s
      |  ON p.user_id = s.user_id AND p.us BETWEEN s.win_start AND s.win_end""".stripMargin

  /** Shared by the `decontaminate` gate and the streaming face's batch gate
    * (`stream_decon_batch`) — both emit the same distinct collision pairs. */
  private lazy val decontamCtes: String = {
    val gram13 = (0 until 13).map(k => s"ws[g+$k]").mkString(" || ' ' || ")
    s"""d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
       |cg AS (
       |  SELECT doc_id, $gram13 AS gram
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 12, 0))) AS g FROM d)
       |),
       |ch AS (SELECT DISTINCT doc_id, ${Oracles.tHashSql("gram")} AS gh FROM cg),
       |bh AS (SELECT doc_id AS bench_id, gh FROM ch WHERE doc_id < 20)""".stripMargin
  }

  private lazy val decontaminateSql: String =
    s"""WITH $decontamCtes
       |SELECT DISTINCT c.doc_id, b.bench_id
       |FROM ch c JOIN bh b ON c.gh = b.gh
       |WHERE c.doc_id <> b.bench_id""".stripMargin

  private lazy val decontaminateRollupSql: String =
    s"""WITH $decontamCtes,
       |sel AS (SELECT DISTINCT c.doc_id FROM ch c JOIN bh b ON c.gh = b.gh
       |        WHERE c.doc_id <> b.bench_id)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(s.doc_id) AS BIGINT) AS n_flagged,
       |  CAST((count(s.doc_id) * 1000) // count(*) AS BIGINT) AS flag_milli
       |FROM documents d LEFT JOIN sel s ON d.doc_id = s.doc_id
       |GROUP BY d.source""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "simjoin_words" ->
      """WITH t AS (
        |  SELECT p_partkey AS id,
        |         unnest(list_distinct(regexp_extract_all(lower(p_name), '[a-z]+'))) AS tok
        |  FROM part WHERE p_partkey < 300
        |),
        |n AS (SELECT id, count(*) AS n FROM t GROUP BY id),
        |d AS (
        |  SELECT a.id AS lid, b.id AS rid, count(*) AS dot
        |  FROM t a JOIN t b ON a.tok = b.tok GROUP BY 1, 2
        |),
        |s AS (
        |  SELECT lid, rid, CAST(dot AS DOUBLE) / (sqrt(na.n) * sqrt(nb.n)) AS sim
        |  FROM d JOIN n na ON lid = na.id JOIN n nb ON rid = nb.id
        |),
        |r AS (
        |  SELECT lid, rid, sim,
        |         row_number() OVER (PARTITION BY lid ORDER BY sim DESC, rid ASC) AS rn
        |  FROM s
        |)
        |SELECT lid, rid, round(sim, 6) AS sim FROM r WHERE rn <= 3""".stripMargin,
    "simjoin_l2" -> Oracles.trigramPairs(partSel, partSel, 3, l2 = true),
    "simjoin_count" -> Oracles.trigramPairs(partSel, partSel, 5, l2 = false),
    "simjoin_top1" -> Oracles.trigramPairs(partSel, partSel, 1, l2 = true),
    "simjoin_direct" -> Oracles.trigramPairs(part300Sel, part300Sel, 3, l2 = true),
    "simjoin_indexed" -> Oracles.trigramPairs(part300Sel, part300Sel, 3, l2 = true),
    "simjoin_kernel" -> Oracles.trigramPairs(part300Sel, part300Sel, 3, l2 = true),
    "simjoin_plan" -> Oracles.trigramPairs(part300Sel, part300Sel, 3, l2 = true),
    "pairs_raw" -> Oracles.trigramPairsFloat(
      "SELECT row_number() OVER (ORDER BY p_partkey) - 1 AS id, p_name AS s FROM part WHERE p_partkey < 300",
      "SELECT row_number() OVER (ORDER BY p_partkey) - 1 AS id, p_name AS s FROM part WHERE p_partkey < 300",
      3, l2 = true),
    "simjoin_full" -> Oracles.simJoinFullPart(2),
    "simjoin_left" -> Oracles.simJoinLeftSql(2),
    "simjoin_wordnorm" -> {
      val idSel = "SELECT row_number() OVER (ORDER BY p_partkey) - 1 AS id, " +
        "lower(regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g')) AS s FROM part WHERE p_partkey < 300"
      s"""WITH ${Oracles.trigramCtes("l", idSel)},
         |${Oracles.trigramCtes("r", idSel)},
         |dots AS (
         |  SELECT lt.id AS lid, rt.id AS rid, count(*) AS dot
         |  FROM ltok lt JOIN rtok rt ON lt.tok = rt.tok GROUP BY 1, 2
         |),
         |sims AS (
         |  SELECT d.lid, d.rid, CAST(d.dot AS DOUBLE) / (sqrt(lc.n) * sqrt(rc.n)) AS sim
         |  FROM dots d JOIN lcnt lc ON d.lid = lc.id JOIN rcnt rc ON d.rid = rc.id
         |),
         |ranked AS (
         |  SELECT lid, rid, sim,
         |         row_number() OVER (PARTITION BY lid ORDER BY sim DESC, rid ASC) AS rn
         |  FROM sims
         |),
         |pw AS (
         |  SELECT p_partkey, p_name, row_number() OVER (ORDER BY p_partkey) - 1 AS _rid
         |  FROM part WHERE p_partkey < 300
         |),
         |fin AS (SELECT lid, rid, CAST(sim AS REAL) AS sim FROM ranked WHERE rn <= 2)
         |SELECT l.p_partkey, l.p_name, f.sim,
         |       r.p_partkey AS p_partkey_right, r.p_name AS p_name_right
         |FROM fin f JOIN pw l ON f.lid = l._rid JOIN pw r ON f.rid = r._rid""".stripMargin
    },
    "word_normalization" ->
      """SELECT p_partkey, lower(regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g')) AS p_name_normalized FROM part""",
    "trigram_tokens" ->
      s"""WITH ${Oracles.trigramCtes("l", partSel)}
         |SELECT id, tok FROM ltok""".stripMargin,
    "trigram_count" ->
      s"""WITH ${Oracles.trigramCtes("l", partSel)}
         |SELECT s.id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_tokens
         |FROM lsrc s LEFT JOIN lcnt c ON s.id = c.id""".stripMargin,
    "simsearch_strings" -> Oracles.trigramPairs(
      partSel + " WHERE p_partkey < 50", partSel, 5, l2 = true,
      outL = "query_id", outR = "match_id"),
    "dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
        |c AS (SELECT content_hash, min(doc_id) AS canonical_id FROM h GROUP BY 1)
        |SELECT h.doc_id, h.content_hash, c.canonical_id FROM h JOIN c USING (content_hash)""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH ${Oracles.qualityScoredCtes},
         |h AS (SELECT s.doc_id, md5(dd.text) AS content_hash, s.quality
         |      FROM scored s JOIN d dd USING (doc_id) WHERE dd.text IS NOT NULL),
         |r AS (SELECT doc_id, content_hash, quality,
         |        row_number() OVER (PARTITION BY content_hash
         |          ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rn
         |      FROM h)
         |SELECT doc_id, content_hash, quality,
         |       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM r""".stripMargin,
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS old_hash, 1 AS op FROM documents WHERE doc_id % 5 <> 0),
        |n AS (SELECT doc_id,
        |             md5(CASE WHEN doc_id % 11 = 0 THEN 'rev2 ' || text ELSE text END) AS new_hash,
        |             1 AS np
        |      FROM documents WHERE doc_id % 7 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.old_hash, n.new_hash,
        |       CASE WHEN o.op IS NULL THEN 'added'
        |            WHEN n.np IS NULL THEN 'removed'
        |            WHEN o.old_hash IS NOT DISTINCT FROM n.new_hash THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    "corpus_upsert" ->
      """WITH base AS (SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id < 400),
        |batch AS (SELECT doc_id, md5('v2 ' || text) AS digest FROM documents WHERE doc_id >= 200)
        |SELECT doc_id, digest, CAST(1 AS BIGINT) AS from_batch FROM batch
        |UNION ALL
        |SELECT b.doc_id, b.digest, CAST(0 AS BIGINT) AS from_batch
        |FROM base b LEFT JOIN batch t ON b.doc_id = t.doc_id
        |WHERE t.doc_id IS NULL""".stripMargin,
    "dedup_soft_weights" -> Oracles.softWeightsSql,
    "doc_novelty" -> Oracles.noveltySql,
    "doc_boilerplate" -> Oracles.boilerplateSql(2L),
    "dedup_jaccard" -> Oracles.jaccardPairs(0.8),
    "dedup_containment" -> Oracles.containmentPairs(0.9),
    "dedup_jaccard_capped" -> Oracles.jaccardPairsCapped(0.8, 20L),
    "dedup_minhash_lsh" -> Oracles.minHashLshPairsSql(0.8),
    "dedup_minhash_sig" -> Oracles.minHashSigPairsSql(0.5),
    // union of per-slice signature frames ≡ whole-corpus encode — same oracle
    "dedup_sig_incr" -> Oracles.minHashSigPairsSql(0.5),
    "dedup_sig_cross" -> Oracles.minHashSigBetweenSql(0.5, "doc_id < 250", "doc_id >= 250"),
    "dedup_exact_incr" -> Oracles.exactIncrementSql("doc_id < 250", "doc_id >= 250"),
    "dedup_exact_incr_bloom" -> Oracles.exactIncrementSql("doc_id < 250", "doc_id >= 250"),
    "dedup_cross" -> Oracles.minHashLshBetweenSql(0.8, "doc_id % 2 = 0", "doc_id % 2 = 1"),
    "pipeline_ingest" ->
      Oracles.ingestScreenSql("doc_id < 250", "doc_id >= 250", "doc_id < 20", 0.8),
    "dedup_simhash" ->
      s"""WITH ${Oracles.simHashCtes}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash1, b.simhash1)) + bit_count(xor(a.simhash2, b.simhash2)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash1, b.simhash1)) + bit_count(xor(a.simhash2, b.simhash2)) <= 7""".stripMargin,
    // 16-bit banding with maxHamming=3 < 4 bands is pigeonhole-EXACT, so the
    // all-pairs Hamming join is the precise mirror of the banded operator
    "dedup_simhash16" ->
      s"""WITH ${Oracles.simHashCtes}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash1, b.simhash1)) + bit_count(xor(a.simhash2, b.simhash2)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash1, b.simhash1)) + bit_count(xor(a.simhash2, b.simhash2)) <= 3""".stripMargin,
    "simhash_fp" ->
      s"""WITH ${Oracles.simHashCtes}
         |SELECT doc_id, simhash1, simhash2 FROM fp""".stripMargin,
    "stream_neardup_batch" ->
      s"""WITH ${Oracles.simHashCtes}
         |SELECT a.doc_id, b.doc_id AS matched_id,
         |  CAST(bit_count(xor(a.simhash1, b.simhash1)) + bit_count(xor(a.simhash2, b.simhash2)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < 100 AND a.doc_id <> b.doc_id
         |WHERE bit_count(xor(a.simhash1, b.simhash1)) + bit_count(xor(a.simhash2, b.simhash2)) <= 3""".stripMargin,
    "dedup_embedding" ->
      s"""WITH ${Oracles.embeddingPairCtes}
         |SELECT id_a, id_b, round(cosine, 4) AS cosine FROM cosims WHERE cosine >= 0.4""".stripMargin,
    "dedup_embedding_lsh" -> Oracles.embeddingLshPairsSql(0.4, 8, 2),
    "semdedup" -> Oracles.semDedupSql(0.4, 16, 1),
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${Oracles.shingleCtes},
         |${Oracles.minHashComponentCtes(0.8)}
         |SELECT doc_id, component FROM comp""".stripMargin,
    // identical labels from the persisted parquet edge table — same oracle
    "dedup_clusters_from_table" ->
      s"""WITH RECURSIVE ${Oracles.shingleCtes},
         |${Oracles.minHashComponentCtes(0.8)}
         |SELECT doc_id, component FROM comp""".stripMargin,
    "dedup_clusters_incr" ->
      s"""WITH RECURSIVE ${Oracles.shingleCtes},
         |${Oracles.minHashComponentCtes(0.8)}
         |SELECT doc_id, component FROM comp""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${Oracles.shingleCtes},
         |${Oracles.minHashComponentCtes(0.8)},
         |cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY cluster_size""".stripMargin,
    "dedup_edit_verify" -> Oracles.editVerifiedPairsSql(350L),
    // cluster-safe split: the dedup_clusters labeling + the sample_split
    // bucket rule keyed on the component label
    "sample_split_clusters" ->
      s"""WITH RECURSIVE ${Oracles.shingleCtes},
         |${Oracles.minHashComponentCtes(0.8)},
         |b AS (
         |  SELECT doc_id, component,
         |    ((${Oracles.tHashSql("CAST(component AS VARCHAR)")} % 100) + 100) % 100 AS bucket
         |  FROM comp
         |)
         |SELECT doc_id, component, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,
    "knn_graph" -> Oracles.knnGraphSql(3, 8, 2),
    "simjoin_tfidf" ->
      s"""WITH ${Oracles.trigramCtes("l", partSel + " WHERE p_partkey < 500")},
         |${Oracles.trigramCtes("r", partSel + " WHERE p_partkey < 500")},
         |nn AS (SELECT count(*) AS n FROM (SELECT DISTINCT id FROM rtok)),
         |idfw AS (
         |  SELECT tok, CAST(floor(ln(CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS w
         |  FROM (SELECT tok, count(DISTINCT id) AS df FROM rtok GROUP BY tok), nn
         |),
         |ltw AS (
         |  SELECT l.id, l.tok,
         |    COALESCE(i.w, (SELECT CAST(floor(ln(CAST(n + 1 AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) FROM nn)) AS w
         |  FROM ltok l LEFT JOIN idfw i ON l.tok = i.tok
         |),
         |rtw AS (SELECT r.id, r.tok, i.w FROM rtok r JOIN idfw i ON r.tok = i.tok),
         |lnorm AS (SELECT id, CAST(sum(w*w) AS BIGINT) AS ln2 FROM ltw GROUP BY id),
         |rnorm AS (SELECT id, CAST(sum(w*w) AS BIGINT) AS rn2 FROM rtw GROUP BY id),
         |dots AS (
         |  SELECT a.id AS lid, b.id AS rid, CAST(sum(a.w * a.w) AS BIGINT) AS dot
         |  FROM ltw a JOIN rtw b ON a.tok = b.tok GROUP BY 1, 2
         |),
         |sims AS (
         |  SELECT d.lid, d.rid, CAST(d.dot AS DOUBLE) / (sqrt(l2.ln2) * sqrt(r2.rn2)) AS sim
         |  FROM dots d JOIN lnorm l2 ON d.lid = l2.id JOIN rnorm r2 ON d.rid = r2.id
         |),
         |ranked AS (
         |  SELECT lid, rid, sim,
         |         row_number() OVER (PARTITION BY lid ORDER BY sim DESC, rid ASC) AS rn
         |  FROM sims
         |)
         |SELECT lid, rid, round(sim, 6) AS sim FROM ranked WHERE rn <= 3""".stripMargin,
    "decontaminate" -> decontaminateSql,
    "decontaminate_rollup" -> decontaminateRollupSql,
    // same collision-pair semantics through the streaming face's batch path
    "stream_chunk_batch" -> Oracles.streamChunkBatchSql(20),
    "stream_decon_batch" -> decontaminateSql,
    "dedup_canonical" ->
      s"""WITH RECURSIVE ${Oracles.shingleCtes},
         |${Oracles.minHashComponentCtes(0.8)}
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN comp c ON d.doc_id = c.doc_id AND d.doc_id = c.component""".stripMargin,
    "vocab" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
        |s AS (SELECT word, count(*) AS cf, count(DISTINCT doc_id) AS df FROM w GROUP BY word)
        |SELECT word, cf, df,
        |       CAST(row_number() OVER (ORDER BY cf DESC, word ASC) AS BIGINT) AS rank
        |FROM s""".stripMargin,
    "simdedup" ->
      s"""WITH RECURSIVE ${Oracles.trigramCtes("l", "SELECT DISTINCT p_name AS id, p_name AS s FROM part")},
         |dots AS (
         |  SELECT a.id AS lid, b.id AS rid, count(*) AS dot
         |  FROM ltok a JOIN ltok b ON a.tok = b.tok GROUP BY 1, 2
         |),
         |sims AS (
         |  SELECT d.lid, d.rid, CAST(d.dot AS DOUBLE) / (sqrt(lc.n) * sqrt(rc.n)) AS sim
         |  FROM dots d JOIN lcnt lc ON d.lid = lc.id JOIN lcnt rc ON d.rid = rc.id
         |),
         |edges AS (SELECT lid AS a, rid AS b FROM sims WHERE sim >= 0.85 AND lid <> rid),
         |reach(src, dst) AS (
         |  SELECT id, id FROM lsrc
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
         |),
         |comp AS (SELECT src AS name, min(dst) AS component FROM reach GROUP BY src),
         |canon AS (
         |  SELECT c.component, min(p.p_partkey) AS canonical_id
         |  FROM part p JOIN comp c ON p.p_name = c.name GROUP BY 1
         |)
         |SELECT p.p_partkey, p.p_name, n.canonical_id
         |FROM part p JOIN comp c ON p.p_name = c.name JOIN canon n ON c.component = n.component""".stripMargin,
    "corpus_clean" -> {
      val stops = Oracles.stopIn(TextFunctions.StopwordLists.head._2)
      val langCounts = TextFunctions.StopwordLists.map { case (lang, list) =>
        s"CAST(len(list_filter(ws, w -> w IN ${Oracles.stopIn(list)})) AS BIGINT) AS c_$lang"
      }.mkString(",\n    ")
      val langNames = TextFunctions.StopwordLists.map(_._1)
      val langCase = langNames.zipWithIndex.init.map { case (lang, i) =>
        val conds = langNames.drop(i + 1).map(l2 => s"c_$lang >= c_$l2").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH base AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, text, ws, length(text) AS rawchars, len(ws) AS rawwords,
         |    CAST(length(text) AS DOUBLE) AS nchars, CAST(len(ws) AS DOUBLE) AS nwords,
         |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         |    CAST(len(list_filter(ws, w -> w IN $stops)) AS DOUBLE) AS stops,
         |    $langCounts
         |  FROM base
         |),
         |scored AS (
         |  SELECT doc_id, text,
         |    CASE WHEN rawchars = 0 OR rawwords = 0 THEN 0.0
         |         ELSE round(0.4 * (alpha / nchars) + 0.4 * least(3.0 * (stops / nwords), 1.0)
         |                   + 0.2 * least((alpha / nwords) / 8.0, 1.0), 6) END AS quality,
         |    CASE $langCase
         |      ELSE '${langNames.last}' END AS langid
         |  FROM m
         |),
         |filt AS (SELECT * FROM scored WHERE quality >= 0.45 AND langid IN ('en')),
         |h AS (SELECT doc_id, text, md5(text) AS ch FROM filt),
         |canon AS (SELECT ch, min(doc_id) AS cid FROM h GROUP BY 1),
         |ex AS (SELECT h.doc_id, h.text FROM h JOIN canon c ON h.ch = c.ch AND h.doc_id = c.cid),
         |w2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM ex),
         |sh AS (
         |  SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS sh
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws)-2, 0))) AS g FROM w2)
         |),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |${Oracles.minHashBandCtes("sh", "doc_id")},
         |inter AS (
         |  SELECT c.id_a AS ia, c.id_b AS ib, count(*) AS i
         |  FROM mcand c
         |  JOIN sh a ON c.id_a = a.doc_id
         |  JOIN sh b ON c.id_b = b.doc_id AND a.sh = b.sh
         |  GROUP BY 1, 2
         |),
         |losers AS (
         |  SELECT DISTINCT ib FROM inter
         |  JOIN cnt ca ON inter.ia = ca.doc_id JOIN cnt cb ON inter.ib = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.8
         |)
         |SELECT e.doc_id, s.langid, s.quality
         |FROM ex e JOIN scored s ON e.doc_id = s.doc_id
         |WHERE e.doc_id NOT IN (SELECT ib FROM losers)""".stripMargin
    },
    "ann_lsh" -> Oracles.annLshSql(5, 8, "q.vec_id < 50", nTables = 2),
    "bm25_topk" -> Oracles.bm25Sql(10, 1.2, 0.75, "doc_id < 5"),
    // result-identity contract of MaxScore pruning: SAME oracle as bm25_topk
    "bm25_wand" -> Oracles.bm25Sql(10, 1.2, 0.75, "doc_id < 5"),
    "bm25_wand_indexed" -> Oracles.bm25Sql(10, 1.2, 0.75, "doc_id < 5"),
    "bm25_prf" -> Oracles.bm25PrfSql(10, 3, 5, "doc_id < 5"),
    "bm25_topk_indexed" -> Oracles.bm25Sql(10, 1.2, 0.75, "doc_id < 5"),
    // index(old) ∪ index(new) must reproduce the whole-corpus ranking
    "bm25_topk_incr" -> Oracles.bm25Sql(10, 1.2, 0.75, "doc_id < 5"),
    "ann_ivf" -> Oracles.annIvfSql(5, 16, 4, "vec_id < 50", nIters = 1),
    "ann_ivf_report" -> Oracles.ivfReportSql(16, 1),
    "ann_ivf_incr" ->
      Oracles.ivfAssignIncrSql(16, 1, "vec_id % 10 < 8", "vec_id % 10 >= 8"),
    "ann_ivf_drift" ->
      Oracles.ivfDriftSql(16, 1, "vec_id % 10 < 8", "vec_id % 10 >= 8"),
    "ann_pq_drift" ->
      Oracles.pqDriftSql(8, 16, 1, "vec_id % 10 < 8", "vec_id % 10 >= 8"),
    "ann_ivfpq_incr" ->
      Oracles.annIvfPqEncodeIncrSql(16, 1, 8, 16, 1,
        "vec_id % 10 < 8", "vec_id % 10 >= 8"),
    "stream_ivf_assign" ->
      Oracles.ivfAssignIncrSql(16, 1, "vec_id % 10 < 7", "vec_id % 10 >= 7"),
    "ann_pq" -> Oracles.annPqSql(5, 8, 16, "vec_id < 50"),
    "ann_pq_rerank" -> Oracles.annPqRerankSql(5, 20, 8, 16, "vec_id < 50"),
    "ann_range" -> Oracles.rangeSearchSql(0.3, "vec_id < 50"),
    "ann_mmr" -> Oracles.annMmrSql(5, 20, 0.5, "vec_id < 50"),
    "ann_recall_report" -> Oracles.annRecallSql(5, 8, 2, "vec_id < 50"),
    "cluster_exemplars" -> Oracles.clusterExemplarsSql(3, 0.5, 16, 1),
    "label_exemplars" -> Oracles.groupExemplarsSql(4, 0.5),
    "hybrid_rrf" -> Oracles.hybridRrfSql(10, 60, "doc_id < 5", "vec_id < 5"),
    "ann_mrl_rerank" -> Oracles.annMrlRerankSql(5, 20, 16, "vec_id < 50"),
    "ann_ivfpq" -> Oracles.annIvfPqSql(5, 16, 4, 1, 8, 16, "vec_id < 50"),
    "ann_ivfpq_rerank" -> Oracles.annIvfPqRerankSql(5, 20, 16, 4, 1, 8, 16, "vec_id < 50"),
    "ann_pq_trained" -> Oracles.annPqSql(5, 8, 16, "vec_id < 50", nIters = 1),
    "ann_ivfpq_trained" -> Oracles.annIvfPqSql(5, 16, 4, 1, 8, 16, "vec_id < 50", pqIters = 1),
    "ann_pq_encoded" -> Oracles.annPqSql(5, 8, 16, "vec_id < 50", nIters = 1),
    "ann_ivfpq_encoded" -> Oracles.annIvfPqSql(5, 16, 4, 1, 8, 16, "vec_id < 50", pqIters = 1),
    "ann_sq" -> Oracles.annSqSql(5, "vec_id < 50"),
    "ann_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS ea, c.embedding AS eb
        |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
        |),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(eb)), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))))) AS cosine
        |  FROM p
        |),
        |r AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, round(cosine, 4) + 0.0 AS cosine FROM r WHERE rn <= 5""".stripMargin,
    "knn_accuracy" ->
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE label IS NOT NULL),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS ea,
        |         c.embedding AS eb, c.label AS nl
        |  FROM q JOIN c ON q.vec_id <> c.vec_id
        |),
        |s AS (
        |  SELECT query_id, neighbor_id, nl,
        |    list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(eb)), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))))) AS cosine
        |  FROM p
        |),
        |r AS (
        |  SELECT query_id, nl,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        |  FROM s
        |),
        |v AS (SELECT query_id, nl, count(*) AS c FROM r WHERE rn <= 5 GROUP BY 1, 2),
        |pr AS (
        |  SELECT query_id, nl FROM (
        |    SELECT query_id, nl, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nl ASC) AS vr
        |    FROM v) WHERE vr = 1
        |)
        |SELECT CAST(q.label AS BIGINT) AS label_true, CAST(pr.nl AS BIGINT) AS label_pred,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM pr JOIN q ON pr.query_id = q.vec_id
        |WHERE q.label IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "ann_filtered" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |f AS (SELECT vec_id, embedding FROM embeddings WHERE label = 3),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS ea, c.embedding AS eb
        |  FROM q JOIN f c ON q.vec_id <> c.vec_id
        |),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(eb)), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))))) AS cosine
        |  FROM p
        |),
        |r AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, round(cosine, 4) + 0.0 AS cosine FROM r WHERE rn <= 5""".stripMargin,
    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS ea, c.embedding AS eb
        |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.label IS NULL OR c.label IS NULL OR q.label <> c.label
        |),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(eb)), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))))) AS cosine
        |  FROM p
        |),
        |r AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, round(cosine, 4) + 0.0 AS cosine FROM r WHERE rn <= 5""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      s"""WITH ${Oracles.qualityScoredCtes}
         |SELECT doc_id, quality FROM scored""".stripMargin,
    "text_langid" -> {
      val counts = TextFunctions.StopwordLists.map { case (lang, list) =>
        s"CAST(len(list_filter(ws, w -> w IN ${Oracles.stopIn(list)})) AS BIGINT) AS c_$lang"
      }.mkString(",\n    ")
      val langs = TextFunctions.StopwordLists.map(_._1)
      val cases = langs.zipWithIndex.init.map { case (lang, i) =>
        val conds = langs.drop(i + 1).map(l2 => s"c_$lang >= c_$l2").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    $counts
         |  FROM d
         |)
         |SELECT doc_id,
         |  CASE $cases
         |    ELSE '${langs.last}' END AS langid
         |FROM m""".stripMargin
    },
    "text_langid_mixed" -> {
      val langs = TextFunctions.StopwordLists.map(_._1)
      def countsFor(ws: String, pfx: String): String =
        TextFunctions.StopwordLists.map { case (lang, list) =>
          s"CAST(len(list_filter($ws, w -> w IN ${Oracles.stopIn(list)})) AS BIGINT) AS ${pfx}_$lang"
        }.mkString(",\n    ")
      def caseFor(pfx: String): String = {
        val cases = langs.zipWithIndex.init.map { case (lang, i) =>
          val conds = langs.drop(i + 1).map(l2 => s"${pfx}_$lang >= ${pfx}_$l2").mkString(" AND ")
          s"WHEN $conds THEN '$lang'"
        }.mkString("\n    ")
        s"CASE $cases\n    ELSE '${langs.last}' END"
      }
      s"""WITH d AS (SELECT doc_id,
         |  regexp_extract_all(lower(substring(text, 1, len(text) // 2)), '[a-z]+') AS hws,
         |  regexp_extract_all(lower(substring(text, len(text) // 2 + 1) ||
         |    CASE WHEN doc_id % 5 = 0 THEN repeat(' und der die das ist nicht', 3)
         |         ELSE '' END), '[a-z]+') AS tws
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    ${countsFor("hws", "h")},
         |    ${countsFor("tws", "t")}
         |  FROM d
         |),
         |l AS (
         |  SELECT doc_id,
         |    ${caseFor("h")} AS lang_head,
         |    ${caseFor("t")} AS lang_tail
         |  FROM m
         |)
         |SELECT doc_id, lang_head, lang_tail,
         |  CAST(CASE WHEN lang_head <> lang_tail THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
         |FROM l""".stripMargin
    },
    "text_fingerprint" ->
      s"SELECT doc_id, ${Oracles.tHashSql("text")} AS fingerprint FROM documents",
    "text_topterms" ->
      """WITH w AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
        |c AS (SELECT lang, word, count(*) AS n FROM w GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, word, n,
        |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, word ASC) AS rnk
        |  FROM c
        |)
        |SELECT lang, word, n, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 10""".stripMargin,
    "sample_split" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    ((${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} % 100) + 100) % 100 AS bucket
         |  FROM documents
         |)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,
    "sample_split_grouped" ->
      s"""WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
         |c AS (SELECT content_hash, min(doc_id) AS canonical_id FROM h GROUP BY 1),
         |j AS (SELECT h.doc_id, c.canonical_id FROM h JOIN c USING (content_hash)),
         |b AS (
         |  SELECT doc_id, canonical_id,
         |    ((${Oracles.tHashSql("CAST(canonical_id AS VARCHAR)")} % 100) + 100) % 100 AS bucket
         |  FROM j
         |)
         |SELECT doc_id, canonical_id, bucket,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b""".stripMargin,
    "text_normalize" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_before,
         |  CAST(length(trim(regexp_replace(regexp_replace(text,
         |    '${TextFunctions.ControlPattern}', ' ', 'g'), '\\s+', ' ', 'g'))) AS BIGINT) AS n_after,
         |  md5(trim(regexp_replace(regexp_replace(text,
         |    '${TextFunctions.ControlPattern}', ' ', 'g'), '\\s+', ' ', 'g'))) AS norm_md5
         |FROM documents""".stripMargin,
    // probe = 'e' + combining acute (U+0301) + ﬁ ligature (U+FB01) + space;
    // NFC composes the accent (4 -> 3 code points) and must keep the ligature
    "text_normalize_nfc" ->
      """WITH p AS (
        |  SELECT doc_id, 'e' || chr(769) || chr(64257) || ' ' || text AS ptext
        |  FROM documents
        |)
        |SELECT doc_id, CAST(length(ptext) AS BIGINT) AS n_before,
        |  CAST(length(nfc_normalize(ptext)) AS BIGINT) AS n_after,
        |  md5(nfc_normalize(ptext)) AS norm_md5
        |FROM p""".stripMargin,
    "dedup_winnow" ->
      s"""WITH pos AS (
         |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 0))) AS gp
         |  FROM documents
         |),
         |h AS (
         |  SELECT doc_id, gp, ${Oracles.tHashSql("substring(text, gp, 8)")} AS hv,
         |         greatest(length(text) - 7, 0) AS n
         |  FROM pos
         |),
         |wmin AS (
         |  SELECT doc_id, gp, n,
         |    min(hv) OVER (PARTITION BY doc_id ORDER BY gp ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |  FROM h
         |),
         |fp0 AS (SELECT DISTINCT doc_id, m FROM wmin WHERE gp <= n - 3),
         |keep AS (SELECT m FROM fp0 GROUP BY m HAVING count(*) <= 100),
         |fp AS (SELECT fp0.doc_id, fp0.m FROM fp0 JOIN keep USING (m))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |FROM fp a JOIN fp b ON a.m = b.m AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
    "text_winnow" ->
      s"""WITH pos AS (
         |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 0))) AS gp
         |  FROM documents
         |),
         |h AS (
         |  SELECT doc_id, gp, ${Oracles.tHashSql("substring(text, gp, 8)")} AS hv,
         |         greatest(length(text) - 7, 0) AS n
         |  FROM pos
         |),
         |wmin AS (
         |  SELECT doc_id, gp, n,
         |    min(hv) OVER (PARTITION BY doc_id ORDER BY gp ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |  FROM h
         |)
         |SELECT DISTINCT doc_id, m AS fingerprint FROM wmin WHERE gp <= n - 3""".stripMargin,
    "dedup_winnow_spans" ->
      s"""WITH pos AS (
         |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 0))) AS gp
         |  FROM documents WHERE doc_id < 100
         |),
         |h AS (
         |  SELECT doc_id, gp, ${Oracles.tHashSql("substring(text, gp, 8)")} AS hv,
         |         greatest(length(text) - 7, 0) AS n
         |  FROM pos
         |),
         |wmin AS (
         |  SELECT doc_id, gp, n,
         |    min(hv) OVER (PARTITION BY doc_id ORDER BY gp ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |  FROM h
         |),
         |sel AS (SELECT DISTINCT doc_id, m AS fp FROM wmin WHERE gp <= n - 3),
         |fpp AS (
         |  SELECT s.doc_id, s.fp, CAST(min(h.gp) AS BIGINT) AS p
         |  FROM sel s JOIN h ON h.doc_id = s.doc_id AND h.hv = s.fp
         |  GROUP BY 1, 2
         |),
         |keep AS (SELECT fp FROM fpp GROUP BY fp HAVING count(*) <= 100),
         |fpk AS (SELECT fpp.doc_id, fpp.fp, fpp.p FROM fpp JOIN keep USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fingerprint,
         |       a.p AS pos_a, b.p AS pos_b
         |FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin,
    "dedup_substring" -> Oracles.spanListSql(Oracles.dupSpanCtes(20)),
    "dedup_substring_self" -> Oracles.spanListSql(Oracles.dupSpanCtesAll(20)),
    "dedup_substring_stats" ->
      Oracles.spanStatsSql(Oracles.dupSpanCtes(20), "SELECT doc_id, text FROM documents"),
    "weighted_sample" ->
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |    ((${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} % 1048576) + 1048576) % 1048576 + 1 AS uv
         |  FROM documents
         |)
         |SELECT doc_id, n_chars,
         |  (CAST(round(CAST(n_chars AS DOUBLE) * 1000.0) AS BIGINT) * 1048576) // uv AS priority
         |FROM u
         |ORDER BY priority DESC, doc_id
         |LIMIT 64""".stripMargin,
    "mixture_epochs" -> {
      val vals = (0 until 20).map(i => s"('src$i', ${(i % 5) * 10 + 30})").mkString(", ")
      s"""WITH w(source, target_milli) AS (VALUES $vals),
         |a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available
         |      FROM documents GROUP BY source)
         |SELECT a.source, a.available, CAST(w.target_milli AS BIGINT) AS target_milli,
         |       ((CAST(w.target_milli AS BIGINT) * 100000) // 1000) * 1000 // a.available AS epochs_milli
         |FROM a JOIN w USING (source) WHERE a.available > 0""".stripMargin
    },
    "mixture_temperature" -> Oracles.temperatureSharesSql(10000L, 500),
    "emb_project" -> Oracles.projectSrpSql(8),
    "bucketed_join" -> Oracles.bucketedJoinSql,
    "knn_mutual_clusters" -> Oracles.mutualKnnClustersSql(3, 8, 2),
    // skew-safe join-shaped star rounds — label-identical, same oracle
    "knn_mutual_clusters_skewsafe" -> Oracles.mutualKnnClustersSql(3, 8, 2),
    "chunk_dedup" -> Oracles.chunkDedupSql(20, 2),
    "chunk_dedup_keep_first" -> Oracles.chunkDedupSql(20, 2, keepFirst = true),
    "dedup_rate_by_source" -> Oracles.dedupRateBySourceSql,
    "source_kl" -> Oracles.sourceKlSql,
    "source_entropy" ->
      """WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w FROM documents
        |           WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM w)
        |SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(max(t.t) AS BIGINT) AS total_w,
        |  CAST(sum(CAST(floor(ln(CAST(t.t AS DOUBLE) / w.w) * 1000000.0 * w.w / t.t)
        |    AS BIGINT)) AS BIGINT) AS entropy_micro,
        |  CAST(max((w.w * 1000) // t.t) AS BIGINT) AS max_share_milli
        |FROM w CROSS JOIN t""".stripMargin,
    "gopher_flags" -> Oracles.gopherFlagsSql(10, 100000, 2000L, 10000L, 2),
    "pipeline_curate" -> Oracles.curatePipelineSql(0.5, 200L),
    "pipeline_shards" -> Oracles.pipelineShardsSql(0.5, 200L, 1024L, 10),
    "mm_frames" -> Oracles.mmFramesSql(4),
    "mm_phash" -> Oracles.mmDHashSql,
    "mm_phash_pairs" -> Oracles.mmDHashPairsSql(3),
    "mm_phash_decoded" -> Oracles.mmImageDHashSql,
    "mm_phash_decoded_pairs" -> Oracles.mmImageDHashPairsSql(3),
    "dedup_paragraph" -> Oracles.paragraphDedupSql(2),
    "dedup_lines_within" -> Oracles.lineDedupWithinDocSql,
    "text_rep_lines" -> Oracles.lineRepetitionSql,
    "dedup_cdc" -> Oracles.cdcChunksSql(8, 64, 2),
    "dedup_substring_self_clean" ->
      Oracles.spanCleanSql(Oracles.dupSpanCtesAll(20), "SELECT doc_id, text FROM documents"),
    "text_sbo" -> Oracles.stupidBackoffSql("doc_id < 5", 400),
    "text_ttr" ->
      """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |  CAST(len(list_distinct(ws)) * 1000 // len(ws) AS BIGINT) AS ttr_milli
        |FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |      FROM documents)
        |WHERE len(ws) > 0""".stripMargin,
    "text_rake" -> Oracles.rakeTopPhraseSql(8),
    "quality_qnorm" -> Oracles.groupQuantileNormSql,
    "mixture_capped" -> Oracles.cappedQuotaSql(10000L, 500L),
    "mixture_fill" -> Oracles.quotaFillSql(50000L, 2500L),
    "stream_quota_batch" -> Oracles.streamQuotaSql(50000L, 2500L),
    "ql_topk" -> Oracles.qlTopKSql(10, 300.0, "doc_id < 5"),
    "emb_outliers" -> Oracles.kmeansOutliersSql(8, 2, 100L),
    "orders_returns" -> Oracles.ordersReturnsSql,
    "orders_count_dist" ->
      """WITH cc AS (SELECT c.c_custkey, count(o.o_custkey) AS n
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT CAST(n AS BIGINT) AS n_orders, CAST(count(*) AS BIGINT) AS n_customers
        |FROM cc GROUP BY n""".stripMargin,
    "orders_brand_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 40)
        |   OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50
        |       AND l.l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "orders_q5" ->
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "customer_q22" ->
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM customer WHERE (c_nationkey % 5) IN (0, 1, 2, 3)),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM c WHERE cents > 0)
        |SELECT c.cntrycode, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(c.cents) AS BIGINT) AS acctbal_cents
        |FROM c, t
        |WHERE c.cents * t.n > t.s
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin,
    "orders_nation_trade" ->
      """WITH sup AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name IN ('NATION_1', 'NATION_2')),
        |cust AS (SELECT c_custkey, n_name AS cust_nation FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_name IN ('NATION_1', 'NATION_2'))
        |SELECT sup.supp_nation, cust.cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN sup ON l.l_suppkey = sup.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN cust ON o.o_custkey = cust.c_custkey
        |WHERE sup.supp_nation <> cust.cust_nation
        |GROUP BY 1, 2, 3""".stripMargin,
    "promo_share" ->
      """WITH lc AS (SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
        |  CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM lineitem),
        |m AS (SELECT month,
        |  CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN c ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(c) AS BIGINT) AS total_cents
        |  FROM lc JOIN part p ON lc.l_partkey = p.p_partkey GROUP BY month)
        |SELECT month, promo_cents, total_cents,
        |  CAST(CAST(promo_cents AS HUGEINT) * 1000 // total_cents AS BIGINT) AS promo_milli
        |FROM m""".stripMargin,
    "orders_top_volume" ->
      """WITH lq AS (SELECT l_orderkey,
        |  CAST(sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_qty_micro
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)) > 200000000)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS o_date, lq.sum_qty_micro
        |FROM lq JOIN orders o ON lq.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
    "orders_q8" ->
      """WITH m AS (SELECT c.c_custkey FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'AMERICA'),
        |li AS (SELECT l.l_orderkey, l.l_suppkey,
        |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |      AS BIGINT) AS c
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_type = 'PROMO')
        |SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(li.c) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN sr.r_name = 'ASIA' THEN li.c ELSE 0 END)
        |    AS BIGINT) AS competitor_cents,
        |  CAST(floor(sum(CASE WHEN sr.r_name = 'ASIA' THEN li.c ELSE 0 END)
        |    * 1000000.0 / sum(li.c)) AS BIGINT) AS share_micro
        |FROM li
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |JOIN supplier s ON li.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN region sr ON sn.n_regionkey = sr.r_regionkey
        |WHERE o.o_custkey IN (SELECT c_custkey FROM m)
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "lineitem_q12" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_shipdate,
        |    CASE l_partkey % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
        |      ELSE 'RAIL' END AS shipmode
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01')
        |SELECT li.shipmode,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
        |WHERE li.shipmode IN ('MAIL', 'SHIP')
        |  AND li.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "orders_q4" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin,
    "lineitem_q6" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "ann_binary" -> Oracles.annBinarySql(5, "vec_id < 50"),
    "ann_binary_rerank" -> Oracles.annBinaryRerankSql(5, 20, "vec_id < 50"),
    "ann_binary_recall" -> Oracles.annBinaryRecallSql(5, 20, "vec_id < 50"),
    "events_decayed" -> Oracles.eventsDecayedSql(7),
    // the streaming fold with anchor = max day IS the batch op — same oracle
    "stream_decayed_batch" -> Oracles.eventsDecayedSql(7),
    "events_attribution" -> Oracles.linearAttributionSql("purchase", 7),
    "events_attribution_u" -> Oracles.positionAttributionSql("purchase", 7, 400L, 400L),
    "events_attribution_decay" -> Oracles.decayAttributionSql("purchase", 7, 2),
    "events_seasonal" -> Oracles.seasonalBaselineSql,
    "events_assoc_rules" -> Oracles.associationRulesSql,
    "events_churn" -> Oracles.weeklyChurnSql,
    "events_heatmap" ->
      """SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hour,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "simjoin_blockstats" ->
      s"""WITH ${Oracles.trigramCtes("b", partSel)},
         |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btok GROUP BY tok)
         |SELECT CAST(${pow2BucketCase("df")} AS BIGINT) AS df_bucket,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(df) AS BIGINT) AS n_postings
         |FROM bdf GROUP BY 1""".stripMargin,
    "text_keyphrases" -> Oracles.rakePhrasesSql(8, 3),
    "bootstrap_draws" -> Oracles.bootstrapDrawsSql(0),
    "pack_buckets" -> Oracles.packBucketsSql(10, 4096L),
    "graph_kcore" -> Oracles.kCorePeelSql(3, 8, 2, 2, 3),
    // persisted-edge-table peel must be bit-identical to the fused build
    "graph_kcore_from_table" -> Oracles.kCorePeelSql(3, 8, 2, 2, 3),
    "graph_labelprop" -> Oracles.labelPropagationSql(3, 8, 2, 3),
    // the persisted-edge-table entry point must be bit-identical to the
    // fused build — same oracle IS the contract
    "graph_from_table" -> Oracles.labelPropagationSql(3, 8, 2, 3),
    "graph_modularity" -> Oracles.modularitySql(3, 8, 2, 3),
    "source_orc" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents""".stripMargin,
    "source_avro" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents""".stripMargin,
    // one-file write + sync-marker split read must reproduce the same table
    "source_avro_split" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents""".stripMargin,
    // identical synthesized messy URLs; the normalize chain is the SAME
    // pattern strings (Java regex / RE2 shared syntax, no backrefs)
    "url_normalize" -> Oracles.urlNormalizeSql(),
    "url_domains" -> Oracles.urlDomainsSql(),
    "c4_line_filter" -> Oracles.lineRuleCleanSql(3, 2L),
    "source_minhash_sim" -> Oracles.groupSigSimSql,
    "source_overlap" -> Oracles.groupGramOverlapSql(13),
    "doc_stitch_pairs" -> Oracles.stitchPairsSql(8, Oracles.stitchFragmentsRel),
    "bootstrap_counts" -> Oracles.bootstrapCountsSql(8),
    "emb_kmeans" -> Oracles.kmeansAssignSql(8, 2),
    "emb_kmeans_centroids" -> Oracles.kmeansCentroidsSql(8, 2),
    "dsir_weights" -> Oracles.dsirWeightsSql(
      "source IN ('src0','src1','src2','src3','src4')"),
    "dsir_weights_bigram" -> Oracles.dsirWeightsSql(
      "source IN ('src0','src1','src2','src3','src4')", ngram = 2),
    "weighted_sample_by_source" ->
      s"""WITH u AS (
         |  SELECT doc_id, n_chars, source,
         |    ((${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} % 1048576) + 1048576) % 1048576 + 1 AS uv
         |  FROM documents
         |),
         |p AS (
         |  SELECT doc_id, n_chars, source,
         |    (CAST(round(CAST(n_chars AS DOUBLE) * 1000.0) AS BIGINT) * 1048576) // uv AS priority
         |  FROM u
         |),
         |r AS (
         |  SELECT doc_id, n_chars, source, priority,
         |         row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn
         |  FROM p
         |)
         |SELECT doc_id, n_chars, source, priority FROM r WHERE rn <= 16""".stripMargin,
    "dedup_substring_clean" ->
      Oracles.spanCleanSql(Oracles.dupSpanCtes(20), "SELECT doc_id, text FROM documents"),
    "dedup_substring_words" -> Oracles.wordSpanListSql(8),
    "dedup_substring_words_clean" ->
      Oracles.spanCleanSql(Oracles.wordSpanCleanCtes(8), "SELECT doc_id, text FROM documents"),
    "decontaminate_spans" ->
      Oracles.spanListSql(Oracles.contamSpanCtes(20, "doc_id >= 5", "doc_id < 5")),
    "bench_coverage" -> Oracles.benchCoverageSql(20, "doc_id >= 5", "doc_id < 5"),
    "decontaminate_spans_bloom" ->
      Oracles.spanListSql(Oracles.contamSpanCtes(20, "doc_id >= 5", "doc_id < 5")),
    "decontaminate_spans_clean" ->
      Oracles.spanCleanSql(Oracles.contamSpanCtes(20, "doc_id >= 5", "doc_id < 5"),
        "SELECT doc_id, text FROM documents WHERE doc_id >= 5"),
    "decontaminate_report" -> Oracles.leakReportSql(20, "doc_id >= 20", "doc_id < 20"),
    "text_xent" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM w GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS N, count(*) AS V FROM cnt),
        |q AS (
        |  SELECT w, CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / CAST(N + V AS DOUBLE)) * 1000000.0) AS BIGINT) AS qn
        |  FROM cnt, tot
        |)
        |SELECT doc_id,
        |  round(CAST(sum(qn) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0), 4) AS xent
        |FROM w JOIN q USING (w) GROUP BY doc_id""".stripMargin,
    "text_xent_ref" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents WHERE source = 'src0') GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS N, count(*) AS V FROM cnt),
        |q AS (
        |  SELECT w, CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / CAST(N + V + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS qn
        |  FROM cnt, tot
        |),
        |sc AS (
        |  SELECT doc_id, coalesce(q.qn,
        |    (SELECT CAST(floor(-ln(1.0 / CAST(N + V + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) FROM tot)) AS qn
        |  FROM w LEFT JOIN q USING (w)
        |)
        |SELECT doc_id,
        |  round(CAST(sum(qn) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0), 4) AS xent_ref
        |FROM sc GROUP BY doc_id""".stripMargin,
    "text_char_entropy" ->
      """WITH i AS (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |),
        |cnt AS (
        |  SELECT doc_id, substring(text, i, 1) AS ch, count(*) AS c
        |  FROM i GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS s
        |  FROM cnt GROUP BY 1
        |)
        |SELECT doc_id, n AS n_chars,
        |  round(CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      - CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS DOUBLE)
        |    / 1000000.0, 4) AS entropy
        |FROM agg""".stripMargin,
    "text_xent2" ->
      """WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |b AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM ws, (SELECT unnest(generate_series(1,
        |         (SELECT CAST(max(len(ws)) AS BIGINT) FROM ws) - 1)) AS i) ii
        |  WHERE i <= len(ws) - 1
        |),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cc FROM b GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w) AS V FROM (SELECT unnest(ws) AS w FROM ws)),
        |q AS (
        |  SELECT w1, w2,
        |    CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / CAST(cc + V AS DOUBLE)) * 1000000.0) AS BIGINT) AS qn
        |  FROM c2 JOIN c1 USING (w1), vv
        |)
        |SELECT doc_id,
        |  round(CAST(sum(qn) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0), 4) AS xent2
        |FROM b JOIN q USING (w1, w2) GROUP BY doc_id""".stripMargin,
    "text_xent3" ->
      """WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |t AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
        |  FROM ws, (SELECT unnest(generate_series(1,
        |         (SELECT CAST(max(len(ws)) AS BIGINT) FROM ws) - 2)) AS i) ii
        |  WHERE i <= len(ws) - 2
        |),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c FROM t GROUP BY 1, 2, 3),
        |ctx2 AS (SELECT w1, w2, count(*) AS cc FROM t GROUP BY 1, 2),
        |vv AS (SELECT count(DISTINCT w) AS V FROM (SELECT unnest(ws) AS w FROM ws)),
        |q AS (
        |  SELECT w1, w2, w3,
        |    CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / CAST(cc + V AS DOUBLE)) * 1000000.0) AS BIGINT) AS qn
        |  FROM c3 JOIN ctx2 USING (w1, w2), vv
        |)
        |SELECT doc_id,
        |  round(CAST(sum(qn) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0), 4) AS xent3
        |FROM t JOIN q USING (w1, w2, w3) GROUP BY doc_id""".stripMargin,
    "text_rep_ngram" ->
      """WITH ws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |tot AS (
        |  SELECT doc_id, sum(length(w)) AS tot
        |  FROM (SELECT doc_id, unnest(ws) AS w FROM ws) GROUP BY 1
        |),
        |g AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        |  FROM ws, (SELECT unnest(generate_series(1,
        |         (SELECT CAST(max(len(ws)) AS BIGINT) FROM ws) - 1)) AS i) ii
        |  WHERE i <= len(ws) - 1
        |),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, g, c FROM (
        |    SELECT doc_id, g, c,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
        |    FROM c) WHERE rn = 1
        |)
        |SELECT t.doc_id, t.g AS top_ngram, t.c AS occurrences,
        |  round(CAST(t.c AS DOUBLE) * CAST(length(t.g) - 1 AS DOUBLE)
        |        / CAST(tot.tot AS DOUBLE), 4) AS char_frac
        |FROM top t JOIN tot USING (doc_id)""".stripMargin,
    "len_percentiles" ->
      """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT v, row_number() OVER (ORDER BY v ASC) - 1 AS rk FROM v)
        |SELECT CAST(ps.p AS BIGINT) AS p, r.v AS value
        |FROM (VALUES (50), (90), (99)) ps(p)
        |CROSS JOIN n
        |JOIN r ON r.rk = ((n.n - 1) * ps.p) // 100""".stripMargin,
    "len_hist" ->
      """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (
        |  SELECT least(greatest(CAST(floor((v - 0.0) / 50.0) AS BIGINT), 0), 11) AS bin
        |  FROM v
        |)
        |SELECT bin,
        |  round(0.0 + CAST(bin AS DOUBLE) * 50.0, 4) AS lo_edge,
        |  round(0.0 + CAST(bin + 1 AS DOUBLE) * 50.0, 4) AS hi_edge,
        |  count(*) AS n
        |FROM b GROUP BY bin""".stripMargin,
    "zipf_slope" -> Oracles.zipfSlopeSql(500),
    "dedup_lsh_audit" -> Oracles.lshAuditSql(0.8),
    "profile_docs" -> Oracles.profileDocsSql(
      Seq("doc_id", "text", "lang", "source", "n_chars")),
    "graph_pagerank" -> Oracles.pageRankSql(3, 8, 2, 3, 850),
    "graph_pagerank_delta" -> Oracles.pageRankDeltaSql(3, 8, 2, 3, 850),
    "graph_ppr" -> Oracles.pageRankSql(3, 8, 2, 3, 850, Some("node < 10")),
    "graph_triangles" -> Oracles.triangleCountsSql(3, 8, 2),
    "graph_hits" -> Oracles.hitsSql(3, 8, 2, 2),
    "graph_clustering" -> Oracles.clusteringCoefficientSql(3, 8, 2),
    "shard_rendezvous" -> Oracles.rendezvousShardSql(10),
    "sink_sharded" -> Oracles.rendezvousShardSql(8),
    "source_jsonl" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source
        |FROM documents""".stripMargin,
    "source_csv" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source
        |FROM documents""".stripMargin,
    // pruning is an IO move only: the result must equal plain scan+filter
    "source_compacted" ->
      """SELECT doc_id, n_chars, md5(text) AS text_md5
        |FROM documents WHERE n_chars BETWEEN 200 AND 500""".stripMargin,
    "collocations" -> Oracles.collocationsSql(3L, 100),
    "cooccurrence" -> Oracles.cooccurrenceSql(2, 3L, 100),
    "corpus_health" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS dup_docs,
        |  CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS mean_chars_micro
        |FROM documents""".stripMargin,
    "layout_zorder" -> Oracles.zorderKeySql(4, 8),
    "layout_pruned" ->
      s"""SELECT vec_id, zkey FROM (${Oracles.zorderKeySql(4, 8)}) z
         |WHERE zkey BETWEEN 0 AND 2147483647""".stripMargin,
    "emb_power_iter" -> Oracles.powerIterationSql(16, 3),
    "emb_pca2" -> Oracles.secondComponentSql(16, 3),
    "emb_drift" -> Oracles.directionDriftSql(16, 3),
    "emb_debias" -> Oracles.removeTopComponentSql(16, 3),
    "tokens_cms_topk" -> Oracles.cmsTopTokensSql(1024, 4, 50),
    "len_rank_sketch" ->
      Oracles.cmsRankSketchSql(Seq(128L, 512L, 1024L, 2048L, 4096L), 16, 512, 4),
    "stopword_ratio" -> Oracles.derivedStopwordRatioSql(1024, 4, 50),
    "quality_classifier" -> Oracles.linearTextScoreSql(256),
    "quality_ensemble" ->
      s"""WITH ${Oracles.qualityScoredCtes},
         |rp AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ls) = 0 THEN 0.0
         |         ELSE round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE), 6)
         |    END AS rep_ratio
         |  FROM (SELECT doc_id, list_filter(str_split(text, chr(10)), l -> length(l) > 0) AS ls
         |        FROM documents)
         |),
         |jj AS (SELECT s.doc_id, s.quality, rp.rep_ratio FROM scored s JOIN rp USING (doc_id)),
         |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY quality DESC, doc_id ASC) - 1 AS r_quality FROM jj),
         |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY rep_ratio ASC, doc_id ASC) - 1 AS r_rep_ratio FROM jj)
         |SELECT jj.doc_id, r1.r_quality, r2.r_rep_ratio,
         |       r1.r_quality + r2.r_rep_ratio AS rank_sum
         |FROM jj JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)""".stripMargin,
    "drift_psi" -> Oracles.psiDriftSql(0.0, 600.0, 12),
    "drift_ks" -> Oracles.ksDriftSql(0.0, 600.0, 12),
    "stream_drift_batch" -> Oracles.streamDriftSql(0.0, 400.0, 8),
    "bpe_merges" -> Oracles.bpeTrainSql(8),
    "bpe_segments" -> Oracles.bpeSegmentSql(8),
    "bpe_encode" -> Oracles.bpeEncodeSql(8),
    "bpe_fertility" -> Oracles.bpeFertilitySql(8),
    "ulm_pieces" -> Oracles.ulmPiecesSql(4, 64, Seq(48, 32)),
    "ulm_segments" -> Oracles.ulmSegmentSql(4, 64, Seq(48, 32)),
    "drift_psi_by_source" -> Oracles.psiDriftByGroupSql(0.0, 600.0, 12),
    "bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
        |),
        |p AS (
        |  SELECT substring(w, i, 2) AS pair
        |  FROM (SELECT w FROM w WHERE length(w) >= 2) t,
        |       (SELECT unnest(generate_series(1,
        |          (SELECT CAST(max(length(w)) AS BIGINT) FROM w) - 1)) AS i) ii
        |  WHERE i <= length(w) - 1
        |),
        |c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
        |SELECT pair, n, rnk FROM (
        |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rnk FROM c)
        |WHERE rnk <= 20""".stripMargin,
    "kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ((${Oracles.tHashSql("CAST(user_id AS VARCHAR)")} % 2147483648) + 2147483648) % 2147483648 AS hv
         |  FROM events WHERE user_id IS NOT NULL
         |),
         |r AS (
         |  SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type ORDER BY hv ASC) AS rn
         |  FROM h
         |),
         |s AS (
         |  SELECT event_type, count(*) AS n_sketch, max(hv) AS vk
         |  FROM r WHERE rn <= 32 GROUP BY 1
         |)
         |SELECT event_type, n_sketch,
         |  CASE WHEN n_sketch < 32 THEN CAST(n_sketch AS DOUBLE)
         |       ELSE round(31.0 / ((CAST(vk AS DOUBLE) + 1.0) / 2147483648.0), 4)
         |  END AS estimate
         |FROM s""".stripMargin,
    "kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type AS g,
         |    ((${Oracles.tHashSql("CAST(user_id AS VARCHAR)")} % 2147483648) + 2147483648) % 2147483648 AS hv
         |  FROM events WHERE user_id IS NOT NULL
         |),
         |r AS (
         |  SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv ASC) AS rn FROM h
         |),
         |sk AS (SELECT g, list(hv ORDER BY hv) AS sk FROM r WHERE rn <= 32 GROUP BY g),
         |p AS (
         |  SELECT a.g AS g_a, b.g AS g_b, a.sk AS ska, b.sk AS skb
         |  FROM sk a JOIN sk b ON a.g < b.g
         |),
         |u AS (
         |  SELECT g_a, g_b, ska, skb,
         |    list_slice(list_sort(list_distinct(list_concat(ska, skb))), 1, 32) AS un
         |  FROM p
         |),
         |c AS (
         |  SELECT g_a, g_b, un, len(un) AS nu,
         |    len(list_filter(un, x -> list_contains(ska, x) AND list_contains(skb, x))) AS nboth
         |  FROM u
         |)
         |SELECT g_a, g_b, CAST(nu AS BIGINT) AS n_union,
         |  round(CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE), 4) AS jaccard_est,
         |  round(CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE) *
         |    CASE WHEN nu < 32 THEN CAST(nu AS DOUBLE)
         |         ELSE 31.0 / ((CAST(un[32] AS DOUBLE) + 1.0) / 2147483648.0) END, 4) AS inter_est
         |FROM c""".stripMargin,
    "pack_greedy" ->
      """WITH RECURSIVE d AS (
        |  SELECT CAST(source AS VARCHAR) AS source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL
        |),
        |p AS (
        |  SELECT source, doc_id, n_tokens, rn, n_tokens AS acc,
        |    CAST(0 AS BIGINT) AS bin
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
        |    CASE WHEN p.acc > 0 AND p.acc + d.n_tokens > 1024
        |         THEN d.n_tokens ELSE p.acc + d.n_tokens END,
        |    CASE WHEN p.acc > 0 AND p.acc + d.n_tokens > 1024
        |         THEN p.bin + 1 ELSE p.bin END
        |  FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1
        |)
        |SELECT source, doc_id, n_tokens, bin FROM p""".stripMargin,
    "pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  CAST((cum_tokens - n_tokens) // 10000 AS BIGINT) AS shard
        |FROM c""".stripMargin,
    "pack_chunk_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN (cum_tokens - n_tokens) // 1024 END AS BIGINT) AS first_chunk,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN (cum_tokens - 1) // 1024 END AS BIGINT) AS last_chunk,
        |  CAST(CASE WHEN n_tokens > 0
        |    THEN (cum_tokens - 1) // 1024 - (cum_tokens - n_tokens) // 1024 + 1
        |    ELSE 0 END AS BIGINT) AS n_chunks
        |FROM c""".stripMargin,
    "shuffle_order" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} AS sh FROM documents
         |)
         |SELECT doc_id, row_number() OVER (ORDER BY sh, doc_id) - 1 AS pos FROM h""".stripMargin,
    "quality_filter" ->
      s"""WITH ${Oracles.qualityScoredCtes},
         |r AS (
         |  SELECT doc_id, quality,
         |         row_number() OVER (ORDER BY quality DESC, doc_id ASC) - 1 AS rnk
         |  FROM scored
         |)
         |SELECT doc_id, quality FROM r
         |WHERE rnk < (SELECT count(*) * 60 // 100 FROM scored)""".stripMargin,
    "quality_filter_by_source" ->
      s"""WITH ${Oracles.qualityScoredCtes},
         |sg AS (
         |  SELECT s.doc_id, dd.source, s.quality
         |  FROM scored s JOIN documents dd ON s.doc_id = dd.doc_id
         |),
         |r AS (
         |  SELECT doc_id, source, quality,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY quality DESC, doc_id ASC) - 1 AS rnk,
         |         count(*) OVER (PARTITION BY source) AS n
         |  FROM sg
         |)
         |SELECT doc_id, source, quality FROM r WHERE rnk < n * 60 // 100""".stripMargin,
    "decontaminate_fuzzy" -> Oracles.fuzzyDecontaminateSql(0.5, "doc_id < 20"),
    "source_cap" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, ${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} AS mh FROM documents
         |),
         |r AS (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source ORDER BY mh, doc_id) - 1 AS src_rank
         |  FROM h
         |)
         |SELECT doc_id, source, src_rank FROM r WHERE src_rank < 10""".stripMargin,
    "mixture_order" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS source
         |  FROM documents
         |),
         |h AS (SELECT doc_id, source, ${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} AS mh FROM s),
         |r AS (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source ORDER BY mh, doc_id) AS k
         |  FROM h
         |),
         |v AS (
         |  SELECT doc_id, source,
         |    CAST(k AS DOUBLE) /
         |      CAST(CASE source WHEN 'a' THEN 3 WHEN 'b' THEN 2 ELSE 1 END AS DOUBLE) AS vt
         |  FROM r
         |)
         |SELECT doc_id, source, row_number() OVER (ORDER BY vt, source, doc_id) - 1 AS pos
         |FROM v""".stripMargin,
    "text_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${TextFunctions.UrlPattern}', '<URL>', 'g'),
         |      '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextFunctions.PhonePattern}', '<PHONE>', 'g') AS redacted
         |FROM documents""".stripMargin,
    "pii_scan" ->
      s"""WITH s AS (SELECT doc_id, source,
         |  text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@' || source || '.example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' call 555-010-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' see https://' || source
         |    || '.example.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.EmailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.PhonePattern}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.UrlPattern}')) AS BIGINT) AS n_urls
         |FROM s""".stripMargin,
    "stream_scrub_batch" ->
      s"""WITH s AS (SELECT doc_id, source,
         |  text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@' || source || '.example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' call 555-010-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' see https://' || source
         |    || '.example.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END AS t0
         |  FROM documents),
         |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(t0,
         |    '${TextFunctions.ControlPattern}', ' ', 'g'), '\\s+', ' ', 'g')) AS t
         |  FROM s)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.UrlPattern}'))
         |    + len(regexp_extract_all(t, '${TextFunctions.EmailPattern}'))
         |    + len(regexp_extract_all(t, '${TextFunctions.PhonePattern}')) AS BIGINT) AS n_pii,
         |  md5(regexp_replace(
         |    regexp_replace(
         |      regexp_replace(t, '${TextFunctions.UrlPattern}', '<URL>', 'g'),
         |      '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextFunctions.PhonePattern}', '<PHONE>', 'g')) AS clean_md5
         |FROM n""".stripMargin,
    "pii_report" ->
      s"""WITH s AS (SELECT doc_id, source,
         |  text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@' || source || '.example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' call 555-010-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' see https://' || source
         |    || '.example.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END AS t
         |  FROM documents),
         |c AS (SELECT doc_id, source,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.EmailPattern}')) AS BIGINT) AS e,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.PhonePattern}')) AS BIGINT) AS p,
         |  CAST(len(regexp_extract_all(t, '${TextFunctions.UrlPattern}')) AS BIGINT) AS u
         |  FROM s)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
         |  CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
         |  CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_url,
         |  CAST(sum(e) AS BIGINT) AS n_emails,
         |  CAST(sum(p) AS BIGINT) AS n_phones,
         |  CAST(sum(u) AS BIGINT) AS n_urls
         |FROM c GROUP BY 1""".stripMargin,
    "text_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(str_split(text, chr(10)), l -> length(l) > 0) AS ls
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN len(ls) = 0 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE), 6)
        |  END AS rep_ratio
        |FROM d""".stripMargin,
    "text_chunks" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, ws, unnest(generate_series(0, CAST(floor((len(ws)-1)/35.0) AS INT))) AS gi
        |  FROM d WHERE len(ws) > 0
        |)
        |SELECT doc_id, CAST(gi AS BIGINT) AS chunk_index,
        |  array_to_string(list_slice(ws, gi*35 + 1, least(gi*35 + 40, len(ws))), ' ') AS chunk,
        |  CAST(least(gi*35 + 40, len(ws)) - gi*35 AS BIGINT) AS n_words
        |FROM g WHERE gi = 0 OR gi*35 + 5 < len(ws)""".stripMargin,
    "emb_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding AS e,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings
        |)
        |SELECT vec_id, round(scale, 6) AS scale, CAST(dim - 1 AS BIGINT) AS dim,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT) END AS q_value
        |FROM (SELECT vec_id, scale, unnest(e) AS x,
        |             unnest(generate_series(1, len(e))) AS dim FROM m)""".stripMargin,
    "emb_normalize" ->
      """WITH n AS (
        |  SELECT vec_id, embedding AS e,
        |    list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))) AS ss
        |  FROM embeddings
        |)
        |SELECT vec_id, CAST(dim - 1 AS BIGINT) AS dim,
        |  round(CAST(x AS DOUBLE) / sqrt(ss), 6) + 0.0 AS unit_value
        |FROM (SELECT vec_id, ss, unnest(e) AS x,
        |             unnest(generate_series(1, len(e))) AS dim FROM n WHERE ss <> 0)""".stripMargin,
    "emb_truncate" ->
      """WITH n AS (
        |  SELECT vec_id, embedding[1:16] AS e,
        |    list_sum(list_transform(embedding[1:16], y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))) AS ss
        |  FROM embeddings
        |)
        |SELECT vec_id, CAST(dim - 1 AS BIGINT) AS dim,
        |  round(CAST(x AS DOUBLE) / sqrt(ss), 6) + 0.0 AS unit_value
        |FROM (SELECT vec_id, ss, unnest(e) AS x,
        |             unnest(generate_series(1, len(e))) AS dim FROM n WHERE ss <> 0)""".stripMargin,
    "emb_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(dim - 1 AS BIGINT) AS dim,
        |  round(CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |        / (CAST(count(*) AS DOUBLE) * 1000000.0), 4) + 0.0 AS centroid
        |FROM (SELECT label, unnest(embedding) AS v,
        |             unnest(generate_series(1, len(embedding))) AS dim FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id,
        |  'stub/raw' AS format,
        |  CAST((octet_length(encode(text)) * 7919) % 1024 + 1 AS INTEGER) AS width,
        |  CAST((octet_length(encode(text)) * 104729) % 1024 + 1 AS INTEGER) AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS media_sha
        |FROM documents""".stripMargin,
    "mm_features" ->
      """WITH h AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents
        |),
        |pos AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(n), 0) FROM h))) AS i),
        |bytes AS (
        |  SELECT doc_id,
        |    (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16 +
        |    (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS b
        |  FROM h, pos WHERE i <= n
        |),
        |cnt AS (SELECT doc_id, b % 16 AS d, count(*) AS c FROM bytes GROUP BY 1, 2),
        |grid AS (
        |  SELECT h.doc_id, dd.d, h.n FROM h, (SELECT unnest(generate_series(0, 15)) AS d) dd
        |)
        |SELECT g.doc_id, CAST(g.d AS BIGINT) AS d,
        |  CASE WHEN g.n IS NULL OR g.n = 0 THEN 0.0
        |       ELSE round(CAST(CAST(COALESCE(c.c, 0) AS REAL) / CAST(g.n AS REAL) AS DOUBLE), 6)
        |  END AS value
        |FROM grid g LEFT JOIN cnt c ON g.doc_id = c.doc_id AND g.d = c.d""".stripMargin,
    "events_user_seq" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY user_id""".stripMargin,
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |       WHERE e.event_type = 'view' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |       (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)""".stripMargin,
    "events_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS c
        |           FROM events GROUP BY 1)
        |SELECT strftime(f.c, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', f.c, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
        |  count(DISTINCT e.user_id) AS users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "text_phrase_hits" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |i AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |      FROM d WHERE len(ws) >= 2),
        |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM i),
        |top5 AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2
        |         ORDER BY n DESC, w1, w2 LIMIT 5)
        |SELECT b.w1 || ' ' || b.w2 AS phrase_id, b.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM b JOIN top5 ON b.w1 = top5.w1 AND b.w2 = top5.w2
        |GROUP BY 1, 2""".stripMargin,
    "search_and" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |q AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:3])) AS term
        |      FROM d WHERE doc_id < 5),
        |qn AS (SELECT query_id, count(*) AS k FROM q GROUP BY 1),
        |p0 AS (SELECT doc_id AS doc, unnest(ws) AS term FROM d),
        |p AS (SELECT DISTINCT doc, term FROM p0),
        |c AS (SELECT q.query_id, p.doc, count(*) AS cnt
        |      FROM p JOIN q ON p.term = q.term GROUP BY 1, 2)
        |SELECT c.query_id, c.doc AS doc_id
        |FROM c JOIN qn ON qn.query_id = c.query_id WHERE c.cnt = qn.k""".stripMargin,
    "events_top_paths" ->
      """WITH s AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
        |  FROM events WHERE event_type IS NOT NULL GROUP BY user_id
        |)
        |SELECT seq, count(*) AS n_users FROM s
        |GROUP BY 1 ORDER BY n_users DESC, seq LIMIT 20""".stripMargin,
    "orders_by_region" ->
      """SELECT r.r_name, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders o
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |GROUP BY 1""".stripMargin,
    "sessions_duration" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                 THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |g AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session
        |  FROM f
        |),
        |sess AS (SELECT user_id, session, max(us) - min(us) AS dur
        |         FROM g GROUP BY 1, 2)
        |SELECT CASE WHEN dur < 60000000 THEN 'a_under_1m'
        |            WHEN dur < 600000000 THEN 'b_1m_10m'
        |            WHEN dur < 1800000000 THEN 'c_10m_30m'
        |            ELSE 'd_over_30m' END AS bucket,
        |  count(*) AS n_sessions
        |FROM sess GROUP BY 1""".stripMargin,
    "orders_unshipped" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, l.l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "orders_local_volume" ->
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "lineitem_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
        |  CAST(sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_micro,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |  CAST(sum(CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)) // count(*) AS BIGINT) AS avg_qty_micro
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "events_dau_wau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |wau AS (
        |  SELECT a.day, count(DISTINCT b.user_id) AS wau
        |  FROM (SELECT DISTINCT day FROM du) a
        |  JOIN du b ON b.day BETWEEN a.day - 6 AND a.day
        |  GROUP BY 1
        |)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
        |  CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_micro
        |FROM dau JOIN wau ON wau.day = dau.day""".stripMargin,
    "orders_rolling7" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day,
        |  CAST(sum(b.n) AS BIGINT) AS rolling_orders,
        |  CAST(sum(b.cents) AS BIGINT) AS rolling_cents
        |FROM daily a JOIN daily b ON b.day BETWEEN a.day - 6 AND a.day
        |GROUP BY 1""".stripMargin,
    "events_cusum" ->
      """WITH RECURSIVE cells AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
        |),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
        |        CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY 1),
        |d AS (
        |  SELECT cells.event_type, cells.day, cells.c, m.nh, m.s,
        |    row_number() OVER (PARTITION BY cells.event_type ORDER BY cells.day) AS rn
        |  FROM cells JOIN m ON m.event_type = cells.event_type
        |),
        |r AS (
        |  SELECT event_type, day, c, nh, s, rn,
        |    greatest(0, c * nh - s - 5 * nh) AS cu
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.event_type, d.day, d.c, d.nh, d.s, d.rn,
        |    greatest(0, r.cu + d.c * d.nh - d.s - 5 * d.nh)
        |  FROM d JOIN r ON d.event_type = r.event_type AND d.rn = r.rn + 1
        |)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, c AS n,
        |  CAST(cu AS BIGINT) AS cusum, cu > 40 * nh AS flagged
        |FROM r""".stripMargin,
    "len_outliers" ->
      """WITH v AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
        |t AS (SELECT count(*) AS n FROM v),
        |r1 AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rk FROM v),
        |med AS (SELECT n_chars AS m FROM r1, t WHERE rk = (n + 1) // 2),
        |dv AS (SELECT v.doc_id, v.n_chars, abs(v.n_chars - med.m) AS dev FROM v, med),
        |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev, doc_id) AS rk FROM dv),
        |mad AS (SELECT dev AS md FROM r2, t WHERE rk = (n + 1) // 2)
        |SELECT dv.doc_id, dv.n_chars, dv.dev, (dv.dev > 3 * mad.md) AS flagged
        |FROM dv, mad""".stripMargin,
    "events_bots" ->
      """WITH g0 AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |),
        |g AS (SELECT user_id, tsu - prev AS g FROM g0 WHERE prev IS NOT NULL),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS HUGEINT) AS s, sum(CAST(g AS HUGEINT) * g) AS s2
        |  FROM g GROUP BY 1 HAVING count(*) >= 4
        |)
        |SELECT user_id, n_gaps,
        |  (16 * (n_gaps * s2 - s * s) < s * s) AS bot
        |FROM m""".stripMargin,
    "quality_deciles" -> {
      s"""WITH ${Oracles.qualityScoredCtes},
         |r AS (
         |  SELECT doc_id, quality,
         |    row_number() OVER (ORDER BY quality DESC, doc_id) - 1 AS rk
         |  FROM scored
         |),
         |t AS (SELECT count(*) AS n FROM scored)
         |SELECT doc_id, quality, CAST(rk * 10 // n AS BIGINT) AS bucket
         |FROM r, t""".stripMargin
    },
    "events_rfm" ->
      """SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS n_events,
        |  round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) + 0.0 AS total_value
        |FROM events GROUP BY user_id""".stripMargin,
    "events_debounce" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |),
        |l AS (
        |  SELECT event_id, user_id, event_type, us,
        |    lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS pus
        |  FROM e
        |)
        |SELECT event_id, user_id, event_type,
        |  CAST(CASE WHEN pus IS NOT NULL AND us - pus <= 60000000 THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        |FROM l""".stripMargin,
    "events_transitions" ->
      """WITH e AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events WHERE event_type IS NOT NULL
        |)
        |SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
        |FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "events_anomaly" ->
      """WITH cells AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |    event_type, count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS nh,
        |    CAST(sum(n) AS HUGEINT) AS s, CAST(sum(n * n) AS HUGEINT) AS s2
        |  FROM cells GROUP BY 1
        |)
        |SELECT c.hour, c.event_type, c.n,
        |  (c.n * m.nh - m.s) * (c.n * m.nh - m.s) > 4 * (m.nh * m.s2 - m.s * m.s) AS flagged
        |FROM cells c JOIN m ON m.event_type = c.event_type""".stripMargin,
    "events_windowed" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws, event_type,
        |  count(*) AS n, round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) + 0.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_sliding" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    date_trunc('hour', ts) - to_hours(h) AS ws
        |  FROM events, (SELECT unnest(generate_series(0, 1)) AS h)
        |)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, event_type,
        |  count(*) AS n, round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) + 0.0 AS sum_value
        |FROM e GROUP BY 1, 2""".stripMargin,
    "events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |f AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                 THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |g AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session
        |  FROM f
        |)
        |SELECT user_id, CAST(session AS BIGINT) AS session, count(*) AS n_events,
        |       min(us) AS start_us, max(us) AS end_us, round(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) + 0.0 AS sum_value
        |FROM g GROUP BY 1, 2""".stripMargin,
    "events_correlate" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |       CAST(v.us - c.us AS BIGINT) AS delay_us
        |FROM e c JOIN e v ON c.user_id = v.user_id
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.us >= c.us AND v.us <= c.us + 1800000000""".stripMargin,
    "events_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""",
    "topk_agg" ->
      """SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY CAST(value AS DOUBLE) DESC, event_id ASC) AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL) t
        |WHERE rn <= 3""".stripMargin,
    "events_in_session" -> eventsInSessionSql,
    // the broadcast fast path is row-identical by contract — same oracle
    "events_in_session_bcast" -> eventsInSessionSql,
    "sessions_overlap" ->
      """WITH ec AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |fc AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                 THEN 1 ELSE 0 END AS news
        |  FROM ec WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |gc AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session
        |  FROM fc
        |),
        |sc AS (
        |  SELECT user_id, CAST(session AS BIGINT) AS c_session,
        |         min(us) - 1800000000 AS c_start, max(us) + 1800000000 AS c_end
        |  FROM gc GROUP BY 1, 2
        |),
        |ev2 AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'),
        |fv AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                 THEN 1 ELSE 0 END AS news
        |  FROM ev2 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |gv AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session
        |  FROM fv
        |),
        |sv AS (
        |  SELECT user_id, CAST(session AS BIGINT) AS v_session,
        |         min(us) - 1800000000 AS v_start, max(us) + 1800000000 AS v_end
        |  FROM gv GROUP BY 1, 2
        |)
        |SELECT user_id, c_session, c_start, c_end, v_session, v_start, v_end
        |FROM sc JOIN sv USING (user_id)
        |WHERE c_start <= v_end AND v_start <= c_end""".stripMargin,
    "events_asof" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
        |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT l.event_id, r.value, r.us AS rus,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us
        |)
        |SELECT l.event_id, l.user_id, l.us,
        |       m.value AS matched_value, m.rus AS matched_us
        |FROM l LEFT JOIN (SELECT event_id, value, rus FROM m WHERE rn = 1) m
        |  USING (event_id)""".stripMargin,
    "events_asof_bcast" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
        |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT l.event_id, r.value, r.us AS rus,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us
        |)
        |SELECT l.event_id, l.user_id, l.us,
        |       m.value AS matched_value, m.rus AS matched_us
        |FROM l LEFT JOIN (SELECT event_id, value, rus FROM m WHERE rn = 1) m
        |  USING (event_id)""".stripMargin,
    "events_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
        |l AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'click'),
        |mb AS (
        |  SELECT l.event_id, r.value, r.us AS rus,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us <= l.us
        |),
        |mf AS (
        |  SELECT l.event_id, r.value, r.us AS rus,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.us ASC, r.event_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id AND r.us >= l.us
        |)
        |SELECT l.event_id, l.user_id, l.us,
        |  CASE WHEN b.event_id IS NOT NULL
        |         AND (f.event_id IS NULL OR (l.us - b.rus) <= (f.rus - l.us))
        |       THEN b.value ELSE f.value END AS matched_value,
        |  CASE WHEN b.event_id IS NOT NULL
        |         AND (f.event_id IS NULL OR (l.us - b.rus) <= (f.rus - l.us))
        |       THEN b.rus ELSE f.rus END AS matched_us
        |FROM l
        |LEFT JOIN (SELECT event_id, value, rus FROM mb WHERE rn = 1) b
        |  ON l.event_id = b.event_id
        |LEFT JOIN (SELECT event_id, value, rus FROM mf WHERE rn = 1) f
        |  ON l.event_id = f.event_id""".stripMargin,
    "stratified_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    ((${Oracles.tHashSql("CAST(doc_id AS VARCHAR)")} % 100) + 100) % 100 AS bucket
         |  FROM documents
         |)
         |SELECT doc_id, source FROM b
         |WHERE bucket < CASE source WHEN 'src1' THEN 100 WHEN 'src2' THEN 50
         |                           WHEN 'src3' THEN 0 ELSE 25 END""".stripMargin)
}
