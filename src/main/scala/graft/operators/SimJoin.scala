package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

import graft.functions.Trigrams

/**
 * Options for [[SimJoin]] — API parity with the reference's `join_sim`
 * (/root/reference/python/polars_sim/dataframe/join.py:15-91).
 *
 * @param on                     key column present in both frames (exclusive with leftOn/rightOn)
 * @param leftOn / rightOn       per-side key columns
 * @param topN                   keep the topN most-similar right rows per left row
 * @param normalization          "l2" (cosine of binary trigram vectors) | "count" (raw overlap)
 * @param applyWordNormalization pre-strip non-alphanumerics + lowercase into `{col}_normalized`
 * @param suffix                 suffix for right columns colliding with left columns
 * @param addMapping             keep the (row, col) index mapping columns
 * @param addSimilarity          keep the `sim` score column
 * @param broadcastSide          "left" | "right" | "auto" — which token relation to broadcast
 *                               (≙ reference `threading_dimension`; auto applies the reference's
 *                               100× size rule on Catalyst plan statistics, see [[SimJoin.autoBroadcastSide]])
 * @param strategy               "dedup" | "direct" | "kernel" | "auto" — physical plan choice, see
 *                               [[SimJoin]]; "kernel" is the broadcast dense-accumulator fast path
 *                               ([[SimKernel]], requires Long id columns). auto takes the kernel
 *                               whenever both ids are Long and the right side's plan-size estimate
 *                               fits the 512 MB broadcast guard (repeated keys or not — its index
 *                               holds one entry per trigram set); only otherwise does it count
 *                               keys, picking dedup when they repeat (distinct-key ratio ≤ 0.5),
 *                               else direct
 * @param indexBy                for the positional APIs ([[SimJoin.pairs]]/[[SimJoin.simJoin]]):
 *                               a UNIQUE column per side whose ascending order defines the dense
 *                               0-based row index. Deterministic and avoids the RDD zipWithIndex
 *                               pass (ids computed on a slim projection + joined back). When None,
 *                               falls back to physical-order zipWithIndex (localCheckpoint'd so
 *                               both plan subtrees see one consistent id assignment).
 * @param maxTokenFrequency      if > 0, drop tokens that occur in more than this many RIGHT-side
 *                               rows (rows with a null id or no trigram are not counted) before
 *                               the candidate join — every strategy counts rows, not distinct
 *                               keys (skew guard; the reference's own tf-idf TODO in its
 *                               `src/cossim.rs`). RESULT-CHANGING: off (0) by default.
 * @param threads                reference API parity (`threads`, /root/reference/python/
 *                               polars_sim/dataframe/join.py:22). Spark manages parallelism via
 *                               partitioning, not a thread pool, so this maps to a repartition of
 *                               the LEFT side to `threads` partitions when > 0; 0 (default) keeps
 *                               the input partitioning. Results are unaffected.
 * @param how                    [[SimJoin.simJoin]] assembly only: "inner" (reference parity —
 *                               left rows with no candidate are dropped, join.py:143-149) or
 *                               "left" (keep them with null mapping/sim/right columns, the shape
 *                               SQL users expect from "similar to a left join"). Extension; the
 *                               reference has inner semantics only.
 */
case class SimJoinOptions(
    on: Option[String] = None,
    leftOn: Option[String] = None,
    rightOn: Option[String] = None,
    topN: Int = 10,
    normalization: String = "l2",
    applyWordNormalization: Boolean = false,
    suffix: String = "_right",
    addMapping: Boolean = false,
    addSimilarity: Boolean = true,
    broadcastSide: String = "auto",
    strategy: String = "auto",
    indexBy: Option[String] = None,
    maxTokenFrequency: Long = 0L,
    threads: Int = 0,
    how: String = "inner") {
  require(topN > 0, s"topN must be positive, got $topN")
  require(Set("l2", "count")(normalization), s"normalization must be l2|count, got $normalization")
  require(Set("left", "right", "auto")(broadcastSide), s"broadcastSide must be left|right|auto")
  require(Set("dedup", "direct", "kernel", "auto")(strategy),
    s"strategy must be dedup|direct|kernel|auto")
  require(threads >= 0, s"threads must be >= 0, got $threads")
  require(Set("inner", "left")(how), s"how must be inner|left, got $how")

  def resolveKeys(left: DataFrame, right: DataFrame): (String, String) = {
    val (l, r) = on match {
      case Some(c) => (c, c)
      case None =>
        (leftOn.getOrElse(throw new IllegalArgumentException("need on= or leftOn=/rightOn=")),
         rightOn.getOrElse(throw new IllegalArgumentException("need on= or leftOn=/rightOn=")))
    }
    require(left.columns.contains(l), s"left column $l not found in ${left.columns.mkString(",")}")
    require(right.columns.contains(r), s"right column $r not found in ${right.columns.mkString(",")}")
    (l, r)
  }
}

/**
 * Approximate string-similarity top-n join — the reference's one public operator
 * (`join_sim`, /root/reference/python/polars_sim/dataframe/join.py:15-149),
 * re-expressed as Spark relational dataflow.
 *
 * Semantics: for each left row, the topN right rows maximizing
 * `sim = |trigrams(l) ∩ trigrams(r)|` ("count") or that overlap L2-normalized by
 * `sqrt(|trigrams(l)|)·sqrt(|trigrams(r)|)` ("l2", = cosine of binary trigram
 * vectors, /root/reference/src/cossim.rs:41-59 + csr.rs:194-210). Only pairs
 * sharing ≥1 trigram are candidates; ties break deterministically by
 * (sim desc, right-id asc) — a strict refinement of the reference's unspecified
 * tie order (/root/reference/src/cossim.rs:124).
 *
 * Physical strategies, in the order strategy="auto" considers them:
 *
 *  - "kernel": when both ids are Long and the right side's plan-size estimate
 *    fits [[MaxBroadcastBytes]], tokenize the right side once (grouped by
 *    trigram set within each partition, so the driver collects per distinct
 *    set, not per row), broadcast a primitive inverted index with one entry
 *    per distinct trigram set, and scan the left side's partitions with a
 *    dense accumulator and a bounded per-row top-n ([[SimKernel]], planned as
 *    [[graft.plans.SimKernelExec]]). No shuffle; the eligibility check reads
 *    plan statistics and runs no job.
 *
 * When the kernel cannot run, auto counts keys and takes "dedup" if they
 * repeat, else "direct". Both are shuffle-based relational plans:
 *
 *  - "direct": tokenize → explode → token equi-join (the sparse-candidate pruning
 *    of the reference's SpGEMM kernel, /root/reference/src/cossim.rs:88-138, for
 *    free) → groupBy(row,col).count (partial+final hash agg ≙ its dense
 *    accumulator) → per-row top-n window (WindowGroupLimit pushes the limit
 *    below the shuffle on Spark ≥3.5, ≙ its quickselect).
 *
 *  - "dedup": similarity depends only on the KEY STRING, so score
 *    DISTINCT keys, not rows. distinct(leftKey) × distinct(rightKey) run the
 *    direct plan; per right key only its topN smallest right ids can ever be in
 *    any top-n result, so candidates per left key ≤ matchedKeys × topN; the final
 *    per-left-key top-n expands back to rows by two key equi-joins. On key-heavy
 *    data (real-world entity names) this turns an O(|L|·|R|) candidate space into
 *    O(distinct(L)·distinct(R)) — the difference between feasible and not at
 *    100 TB. Results are identical to "direct" (same tie-break, proven by the
 *    strategy-parity test suite).
 */
object SimJoin {

  /** `normalize_string_col` parity (/root/reference/python/polars_sim/dataframe/join.py:6-12). */
  def normalizeStringCol(df: DataFrame, column: String): DataFrame =
    df.withColumn(column + "_normalized",
      lower(regexp_replace(col(column), "[^a-zA-Z0-9]", "")))

  /** Score expression — shared by both strategies and mirrored 1:1 in oracle SQL. */
  private def simExpr(dot: Column, nl: Column, nr: Column, normalization: String): Column =
    if (normalization == "l2") dot.cast("double") / (sqrt(nl) * sqrt(nr))
    else dot.cast("double")

  /**
   * Core: top-n similarity pairs between `left` and `right` keyed by caller-provided
   * UNIQUE id columns (the scale API — no row-index pass needed when the data
   * already has keys). Output columns: (outLeft, outRight, outSim), where ids keep
   * their input types and sim is Double.
   */
  def keyedPairs(
      left0: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      opts: SimJoinOptions = SimJoinOptions(),
      outLeft: String = "row", outRight: String = "col", outSim: String = "sim"): DataFrame = {
    val left = if (opts.threads > 0) left0.repartition(opts.threads) else left0
    // the kernel check reads plan statistics only; the key-count jobs of
    // autoStrategy run only when the kernel cannot take the join
    val strategy =
      if (opts.strategy != "auto") opts.strategy
      else if (kernelEligible(left, leftId, right, rightId)) "kernel"
      else autoStrategy(left, leftKey, right, rightKey)
    strategy match {
      case "direct" => directPairs(left, leftId, leftKey, right, rightId, rightKey, opts, outLeft, outRight, outSim)
      case "dedup"  => dedupPairs(left, leftId, leftKey, right, rightId, rightKey, opts, outLeft, outRight, outSim)
      case "kernel" => SimKernel.keyedPairs(left, leftId, leftKey, right, rightId, rightKey, opts, outLeft, outRight, outSim)
    }
  }

  /**
   * Similarity top-n pairs over CALLER-SUPPLIED token arrays — the
   * generalization of [[keyedPairs]] beyond the reference's fixed character
   * trigrams: word tokens, shingles, subword ids, any equatable token type.
   * Set semantics match the trigram contract (duplicate tokens in a row
   * count once, `src/cossim.rs:49`); rows with a null id, a null array, or
   * zero tokens never match (the uniform contract of the string form). Same
   * relational plan as strategy="direct": inverted-index equi-join on the
   * token, hash agg per pair, rank-limited window (`WindowGroupLimit`).
   * @param normalization "l2" (cosine of binary token vectors) or "count"
   * @return (outLeft, outRight, outSim) — ids keep their input types
   */
  def keyedPairsTokens(
      left: DataFrame, leftId: String, leftTokens: String,
      right: DataFrame, rightId: String, rightTokens: String,
      topN: Int = 10, normalization: String = "l2",
      outLeft: String = "row", outRight: String = "col", outSim: String = "sim"): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    require(Set("l2", "count")(normalization),
      s"normalization must be l2|count, got $normalization")
    def rel(df: DataFrame, id: String, toks: String, idOut: String, nOut: String) =
      df.select(col(id).as(idOut), array_distinct(col(toks)).as("__toks"))
        .filter(col(idOut).isNotNull && col("__toks").isNotNull)
        .withColumn(nOut, size(col("__toks")))
        .filter(col(nOut) > 0)
        .select(col(idOut), col(nOut), explode(col("__toks")).as("__tok"))
    val lt = rel(left, leftId, leftTokens, "__row", "__nl")
    val rt = rel(right, rightId, rightTokens, "__col", "__nr")
    val dots = lt.join(rt, "__tok")
      .groupBy(col("__row"), col("__col"))
      .agg(count(lit(1)).as("__dot"), first(col("__nl")).as("__nl"), first(col("__nr")).as("__nr"))
      .withColumn("__sim", simExpr(col("__dot"), col("__nl"), col("__nr"), normalization))
    val w = Window.partitionBy(col("__row")).orderBy(col("__sim").desc, col("__col").asc)
    dots.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topN)
      .select(col("__row").as(outLeft), col("__col").as(outRight), col("__sim").as(outSim))
  }

  /** Shared broadcast/collect bound for kernel dispatch and the SimSearch
    * collect guards — one knob if a deployment retunes it. */
  private[graft] val MaxBroadcastBytes: BigInt = BigInt(512L << 20)

  /**
   * Kernel dispatch guard for strategy="auto", checked before any other
   * strategy: take the [[SimKernel]] broadcast path whenever the right side's
   * Catalyst size estimate is under the 512 MB broadcast guard AND both id
   * columns are LongType (the kernel's output id type — dispatching on other
   * id types would silently change the result schema). Reads plan statistics
   * only; runs no Spark job.
   *
   * Repeated keys do not send the join to "dedup" first, on either side. A
   * repeated RIGHT key is one index entry, and the driver collects at most
   * topN of its ids per right partition. A repeated LEFT key is scored once
   * per row, where dedup scores it once; measured on the perfbench
   * `names_dup` inputs with the sides swapped (100k left rows over 4,096
   * distinct names, 5k right rows; ten alternating pairs on 4 vCPUs), the
   * kernel still took a median 0.63 s per join against dedup's 5.0 s.
   */
  private[graft] def kernelEligible(
      left: DataFrame, leftId: String, right: DataFrame, rightId: String): Boolean = {
    def isLong(df: DataFrame, c: String): Boolean =
      df.schema(df.schema.fieldIndex(c)).dataType == LongType
    right.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxBroadcastBytes &&
      isLong(left, leftId) && isLong(right, rightId)
  }

  /** Tokenize side: (id, nTokens, token) exploded relation, plus the `carry`
    * columns of `df`. Rows with a null id or an empty token set are pruned —
    * the null-id drop is the UNIFORM id contract across all three physical
    * strategies (the kernel's primitive arrays cannot carry null ids, so the
    * relational plans must agree for strategy="auto" to be a pure physical
    * choice). */
  private def tokenRelation(df: DataFrame, id: String, key: String,
      idOut: String, nOut: String, carry: Seq[String] = Nil): DataFrame =
    df.select((col(id).as(idOut) +: Trigrams.trigramTokens(col(key)).as("__toks") +: carry.map(col)): _*)
      .filter(col(idOut).isNotNull)
      .withColumn(nOut, size(col("__toks")))
      .filter(col(nOut) > 0)
      .select((col(idOut) +: col(nOut) +: explode(col("__toks")).as("__tok") +: carry.map(col)): _*)

  /**
   * PERSISTED trigram postings index — the encode-once layout for the
   * flagship similarity join (the [[Bm25.index]] / `Dedup.minHashSignatures`
   * analogue): ONE tokenizer pass per corpus aggregates each key into
   * `(id, n, token, tf)` postings. Persist this and every later join runs
   * from the postings alone — at 100 TB the corpus is tokenized once, the
   * persisted relation is columnar-scan-friendly (three ints + a token per
   * row, no source strings), and any `topN` / `normalization` operating
   * point is served without another corpus pass.
   * @return (id, n, token, tf) — n = total trigram count of the key,
   *         tf = occurrences of `token` in it.
   */
  def trigramIndex(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    tokenRelation(df, idCol, keyCol, "id", "n")
      .groupBy(col("id"), col("n"), col("__tok"))
      .agg(count(lit(1)).as("tf"))
      .select(col("id"), col("n"), col("__tok").as("token"), col("tf"))

  /**
   * [[keyedPairs]] FROM persisted [[trigramIndex]] postings — bit-identical
   * to `strategy="direct"` on the original text: the occurrence-pair count
   * that join computes is exactly `Σ_token tf_l·tf_r`, so scoring from
   * aggregated postings reproduces the dot product (and the l2/count
   * normalizations read only the persisted `n`). Same token-blocked join +
   * `WindowGroupLimit` top-n shape as the direct strategy.
   * @return (outLeft, outRight, outSim) ranked top-`opts.topN` per left id.
   */
  def pairsFromIndex(
      leftIdx: DataFrame, rightIdx: DataFrame, opts: SimJoinOptions,
      outLeft: String = "lid", outRight: String = "rid",
      outSim: String = "sim"): DataFrame = {
    require(opts.topN > 0, s"topN must be positive, got ${opts.topN}")
    val lt = leftIdx.select(col("id").as("__row"), col("n").as("__nl"),
      col("token").as("__tok"), col("tf").as("__tfl"))
    val rt = rightIdx.select(col("id").as("__col"), col("n").as("__nr"),
      col("token").as("__tok"), col("tf").as("__tfr"))
    val dots = lt.join(rt, "__tok")
      .groupBy(col("__row"), col("__col"))
      .agg(sum(col("__tfl") * col("__tfr")).cast("long").as("__dot"),
        first(col("__nl")).as("__nl"), first(col("__nr")).as("__nr"))
      .withColumn("__sim", simExpr(col("__dot"), col("__nl"), col("__nr"), opts.normalization))
    val w = Window.partitionBy(col("__row")).orderBy(col("__sim").desc, col("__col").asc)
    dots.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= opts.topN)
      .select(col("__row").as(outLeft), col("__col").as(outRight), col("__sim").as(outSim))
  }

  /** Unranked scored candidates: all (left id, right id, sim) sharing ≥1 trigram.
    * `rightRows`, when set, names a column of `right` holding how many right
    * rows each of its rows stands for (dedup scores distinct keys), so that
    * the `maxTokenFrequency` cap still counts rows. */
  private def scoredPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      opts: SimJoinOptions, rightRows: Option[String] = None): DataFrame = {
    val lt0 = tokenRelation(left, leftId, leftKey, "__row", "__nl")
    // Skew guard (off by default): drop tokens in too many RIGHT rows before
    // the candidate join — a stop-trigram's postings join is quadratic in its
    // row counts. Result-changing, mirrors the reference's tf-idf TODO.
    val rt1 = tokenRelation(right, rightId, rightKey, "__col", "__nr", rightRows.toSeq)
    val rt0 =
      if (opts.maxTokenFrequency <= 0) rt1
      else {
        val rows = rightRows.fold(count(lit(1)))(c => sum(col(c)))
        val freq = rt1.groupBy(col("__tok")).agg(rows.as("__tf"))
          .filter(col("__tf") <= opts.maxTokenFrequency).select(col("__tok"))
        rt1.join(broadcast(freq), "__tok")
      }
    // broadcastSide ≙ the reference's threading_dimension: replicate one side,
    // partition the other (/root/reference/src/cossim.rs:143-201). "auto" applies
    // the reference's 100× rule on Catalyst size estimates.
    val side = opts.broadcastSide match {
      case "auto" => autoBroadcastSide(left, right)
      case s      => s
    }
    val (lt, rt) = side match {
      case "left"  => (broadcast(lt0), rt0)
      case "right" => (lt0, broadcast(rt0))
      case _       => (lt0, rt0)
    }
    lt.join(rt, "__tok")
      .groupBy(col("__row"), col("__col"))
      .agg(count(lit(1)).as("__dot"), first(col("__nl")).as("__nl"), first(col("__nr")).as("__nr"))
      .withColumn("__sim", simExpr(col("__dot"), col("__nl"), col("__nr"), opts.normalization))
  }

  private def directPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      opts: SimJoinOptions, outLeft: String, outRight: String, outSim: String): DataFrame = {
    val dots = scoredPairs(left, leftId, leftKey, right, rightId, rightKey, opts)
    val w = Window.partitionBy(col("__row")).orderBy(col("__sim").desc, col("__col").asc)
    dots.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= opts.topN)
      .select(col("__row").as(outLeft), col("__col").as(outRight), col("__sim").as(outSim))
  }

  private def dedupPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      opts: SimJoinOptions, outLeft: String, outRight: String, outSim: String): DataFrame = {
    // null-id rows dropped here too — same uniform id contract as tokenRelation
    val lKeys = left.select(col(leftId).as("__row"), col(leftKey).as("__lkey"))
      .filter(col("__row").isNotNull)
    val rKeys = right.select(col(rightId).as("__col"), col(rightKey).as("__rkey"))
      .filter(col("__col").isNotNull)
    val distinctL = lKeys.select(col("__lkey")).filter(col("__lkey").isNotNull).distinct()
    // per distinct right key, its row count: the maxTokenFrequency cap counts rows
    val distinctR = rKeys.filter(col("__rkey").isNotNull)
      .groupBy(col("__rkey")).agg(count(lit(1)).as("__rrows"))
    // Score DISTINCT keys with the direct plan (candidate space: distinct × distinct).
    // Safe cap: a right key with ≥ topN strictly-better-sim rival keys (each rival
    // has ≥1 row, every one of which outranks every row of this key) can never
    // reach any per-left-row top-n — rank() keeps whole tie groups, so this drops
    // only provably-dead keys.
    val wk = Window.partitionBy(col("__row")).orderBy(col("__sim").desc)
    val keyPairs = scoredPairs(
      distinctL, "__lkey", "__lkey", distinctR, "__rkey", "__rkey",
      opts.copy(strategy = "direct"), rightRows = Some("__rrows"))
      .withColumn("__krank", rank().over(wk))
      .filter(col("__krank") <= opts.topN)
      .select(col("__row").as("__lkey"), col("__col").as("__rkey"), col("__sim"))
    // Per right key, only its topN smallest ids can appear in ANY per-left-row
    // top-n (within a sim tie group, selection is id-ascending), so cap here.
    val wr = Window.partitionBy(col("__rkey")).orderBy(col("__col").asc)
    val rightTop = rKeys.withColumn("__rrn", row_number().over(wr))
      .filter(col("__rrn") <= opts.topN)
      .select(col("__rkey"), col("__col"))
    // Expand key-pairs to right ids, take top-n PER LEFT KEY (all left rows with
    // the same key share one result set), then expand to left rows.
    val wl = Window.partitionBy(col("__lkey")).orderBy(col("__sim").desc, col("__col").asc)
    val topPerKey = keyPairs.join(rightTop, "__rkey")
      .withColumn("__rn", row_number().over(wl))
      .filter(col("__rn") <= opts.topN)
      .select(col("__lkey"), col("__col"), col("__sim"))
    lKeys.join(topPerKey, "__lkey")
      .select(col("__row").as(outLeft), col("__col").as(outRight), col("__sim").as(outSim))
  }

  /**
   * All similarity pairs with `sim >= threshold` — no top-n cap; the edge
   * generator for similarity-based clustering ([[SimDedup]]). Same scoring
   * plan as [[keyedPairs]] minus the window.
   */
  def thresholdPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      threshold: Double, opts: SimJoinOptions = SimJoinOptions(),
      outLeft: String = "row", outRight: String = "col", outSim: String = "sim"): DataFrame =
    scoredPairs(left, leftId, leftKey, right, rightId, rightKey, opts)
      .filter(col("__sim") >= threshold)
      .select(col("__row").as(outLeft), col("__col").as(outRight), col("__sim").as(outSim))

  /**
   * TF-IDF-weighted similarity pairs — the reference's own TODO
   * (/root/reference/src/cossim.rs:45-48): rare trigrams count more than stop
   * trigrams. Weighted cosine over binary trigram vectors with
   * `w(t) = round(1000·ln((N+1)/(df(t)+1)))` where df = right-side document
   * frequency and N = right-side row count (tokens unseen on the right get the
   * df=0 weight). Weights are QUANTIZED TO INTEGERS so dot products and norms
   * are exact integer sums — deterministic under any reduction order (the same
   * property the binary design gets for free), and mirrorable in oracle SQL.
   *
   * sim(l, r) = Σ_{t∈l∩r} w(t)² / (√Σ_{t∈l} w(t)² · √Σ_{t∈r} w(t)²), top-n per
   * left row, ties by right id.
   */
  def tfidfPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      topN: Int,
      outLeft: String = "row", outRight: String = "col", outSim: String = "sim"): DataFrame = {
    val lt = tokenRelation(left, leftId, leftKey, "__row", "__nl").drop("__nl")
    val rt = tokenRelation(right, rightId, rightKey, "__col", "__nr").drop("__nr")
    val nDf = rt.select(col("__col")).distinct().agg(count(lit(1)).as("__N"))
    val idf = rt.groupBy(col("__tok")).agg(count_distinct(col("__col")).as("__df"))
    val w0 = nDf.select(
      floor(log((col("__N") + 1).cast("double")) * 1000.0 + 0.5).cast("long").as("__w0"))
    def weight(dfCol: Column, nCol: Column): Column =
      floor(log((nCol + 1).cast("double") / (dfCol + 1).cast("double")) * 1000.0 + 0.5)
        .cast("long")
    val idfW = idf.crossJoin(broadcast(nDf))
      .select(col("__tok"), weight(col("__df"), col("__N")).as("__w"))
    // left tokens unseen on the right: df=0 weight
    val ltW = lt.join(broadcast(idfW), Seq("__tok"), "left")
      .crossJoin(broadcast(w0))
      .select(col("__row"), col("__tok"), coalesce(col("__w"), col("__w0")).as("__w"))
    val rtW = rt.join(broadcast(idfW), Seq("__tok"))
    val lNorm = ltW.groupBy(col("__row")).agg(sum(col("__w") * col("__w")).as("__ln"))
    val rNorm = rtW.groupBy(col("__col")).agg(sum(col("__w") * col("__w")).as("__rn"))
    val dots = ltW.join(rtW.select(col("__col"), col("__tok")), "__tok")
      .groupBy(col("__row"), col("__col")).agg(sum(col("__w") * col("__w")).as("__dot"))
    val sims = dots.join(lNorm, "__row").join(rNorm, "__col")
      .withColumn("__sim",
        col("__dot").cast("double") / (sqrt(col("__ln")) * sqrt(col("__rn"))))
    val w = Window.partitionBy(col("__row")).orderBy(col("__sim").desc, col("__col").asc)
    sims.withColumn("__rnk", row_number().over(w)).filter(col("__rnk") <= topN)
      .select(col("__row").as(outLeft), col("__col").as(outRight), col("__sim").as(outSim))
  }

  /**
   * Raw pairs with dense positional row indexes — parity with the reference FFI
   * surface `awesome_cossim` → DataFrame(row, col, sim)
   * (/root/reference/src/lib.rs:12-40). sim is Float (reference casts Float32,
   * join.py:135-141); row/col are Long (Spark has no unsigned — documented).
   */
  def pairs(left: DataFrame, right: DataFrame, opts: SimJoinOptions): DataFrame = {
    val (lOn, rOn) = opts.resolveKeys(left, right)
    requireNoReservedNames(left, right)
    val li = withDenseIndex(left, "row", opts.indexBy)
    val ri = withDenseIndex(right, "col", opts.indexBy)
    keyedPairs(li, "row", lOn, ri, "col", rOn, opts)
      .withColumn("sim", col("sim").cast(FloatType))
  }

  /** Output names `row`/`col`/`sim` are reserved in the positional APIs; colliding
    * input columns would make later resolution ambiguous — fail early instead. */
  private def requireNoReservedNames(left: DataFrame, right: DataFrame): Unit = {
    val reserved = Set("row", "col", "sim")
    val bad = (left.columns ++ right.columns).filter(reserved)
    require(bad.isEmpty,
      s"input columns ${bad.mkString(",")} collide with reserved output names row/col/sim; " +
      "rename them or use keyedPairs")
  }

  /**
   * Reference `threading_dimension="auto"`: parallelize right iff `100·|L| ≤ |R|`
   * (/root/reference/python/polars_sim/dataframe/join.py:107-114). Parallelizing
   * right ≙ replicating (broadcasting) LEFT. We apply the rule on Catalyst's
   * size-in-bytes estimates and only hint when the broadcast side is plausibly
   * broadcastable (< 512 MB estimated) — at 100 TB an unconditional hint would OOM.
   */
  private[graft] def autoBroadcastSide(left: DataFrame, right: DataFrame): String = {
    val l = left.queryExecution.optimizedPlan.stats.sizeInBytes
    val r = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (l * 100 <= r && l <= MaxBroadcastBytes) "left"
    else if (r * 100 <= l && r <= MaxBroadcastBytes) "right"
    else "none"
  }

  /**
   * strategy="auto" when the kernel cannot take the join ([[kernelEligible]]
   * is false): score distinct keys ("dedup") only when keys actually repeat.
   * One slim aggregation job per side (key column only — parquet-pruned) pays
   * for itself whenever duplication ≥ 2×; explicit strategy skips the stats pass.
   */
  private[graft] def autoStrategy(
      left: DataFrame, leftKey: String, right: DataFrame, rightKey: String): String = {
    def ratio(df: DataFrame, key: String): Double = {
      val row = df.select(
        count(col(key)).as("n"), approx_count_distinct(col(key)).as("d")).head()
      val n = row.getLong(0); val d = row.getLong(1)
      if (n == 0) 1.0 else d.toDouble / n
    }
    if (ratio(left, leftKey) <= 0.5 || ratio(right, rightKey) <= 0.5) "dedup" else "direct"
  }

  /**
   * Full `join_sim` parity: pairs + assembly back to original columns
   * (/root/reference/python/polars_sim/dataframe/join.py:126-149).
   * Left rows with no candidate are dropped (inner semantics — reference README
   * example drops charlie & david) unless `opts.how = "left"`, which keeps them
   * with null mapping/sim/right columns.
   */
  def simJoin(left0: DataFrame, right0: DataFrame, opts: SimJoinOptions): DataFrame = {
    var (lOn, rOn) = opts.resolveKeys(left0, right0)
    requireNoReservedNames(left0, right0)
    var left = left0
    var right = right0
    if (opts.applyWordNormalization) {
      left = normalizeStringCol(left, lOn); lOn = lOn + "_normalized"
      right = normalizeStringCol(right, rOn); rOn = rOn + "_normalized"
    }
    val li = withDenseIndex(left, "row", opts.indexBy)
    val ri = withDenseIndex(right, "col", opts.indexBy)
    val p = keyedPairs(li, "row", lOn, ri, "col", rOn, opts)
      .withColumn("sim", col("sim").cast(FloatType))
    val joinHow = opts.how // "inner" | "left"
    val leftSide = li.join(p, Seq("row"), joinHow)
    // Rename colliding right columns with the suffix (polars join suffix parity).
    val taken = leftSide.columns.toSet
    val riRenamed = ri.columns.foldLeft(ri) { (df, c) =>
      if (c != "col" && taken(c)) df.withColumnRenamed(c, c + opts.suffix) else df
    }
    // how="left": no-match rows carry a null col — the second join must keep
    // them too (null keys never match, so matched rows are identical to inner)
    val joined = leftSide.join(riRenamed, Seq("col"), joinHow)
    val leftCols = left.columns.map(c => col(c))
    val mapCols = if (opts.addMapping) Seq(col("row"), col("col")) else Seq.empty
    val simCols = if (opts.addSimilarity) Seq(col("sim")) else Seq.empty
    val rightCols = ri.columns.filter(_ != "col").map { c =>
      if (taken(c)) col(c + opts.suffix) else col(c)
    }
    joined.select((leftCols.toSeq ++ mapCols ++ simCols ++ rightCols.toSeq): _*)
  }

  /**
   * Dense 0-based row index (≙ polars `with_row_index`, reference join.py:144-145).
   *
   * Preferred path (`sortBy` given): index = rank in ascending `sortBy` order.
   * Computed scale-safely on a SLIM (sortBy-only) projection:
   * `repartitionByRange(k).sortWithinPartitions(k)` establishes a global sort
   * across partitions, then `zipWithIndex` assigns dense ids with per-partition
   * offsets (one extra slim count job — NOT a single-partition global window,
   * which would funnel every row through one task at scale). With unique
   * `sortBy` values (caller contract) the rank is deterministic regardless of
   * range-boundary sampling. Null `sortBy` values are rejected (the reference's
   * `with_row_index` indexes every row; silently dropping nulls in the
   * join-back would diverge).
   *
   * Fallback (no `sortBy`): physical-order `zipWithIndex`, localCheckpoint'd so
   * the two consumers of the indexed frame (pair scoring + join-back) see ONE
   * consistent id assignment even if upstream order is nondeterministic.
   * `monotonically_increasing_id` is not dense, hence unusable for parity.
   */
  def withDenseIndex(df: DataFrame, name: String, sortBy: Option[String] = None): DataFrame =
    sortBy match {
      case Some(k) =>
        // NOT checkpointed: both consumers (pair scoring + join-back) recompute
        // the slim rank deterministically, so a lost executor recovers by
        // recomputation — localCheckpoint here would truncate lineage and turn
        // block loss into job failure for a marginal saving of two slim jobs.
        val ids = DenseRank.appendIndex(
          df.select(col(k)), Seq(col(k)), name, failOnNullCol = Some(k))
        df.join(ids, k)
      case None =>
        val schema = df.schema.add(name, LongType, nullable = false)
        val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
        df.sparkSession.createDataFrame(rdd, schema).localCheckpoint(eager = false)
    }
}
