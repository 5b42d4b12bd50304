package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag

/**
 * Similarity search over embedding columns (`array<float>`) and strings.
 *
 * Most vector searches here share one plan, the reference kernel's
 * "replicate one side, partition the other" (its `src/cossim.rs`):
 * the (small) query side is collected and broadcast, and ONE scan of the
 * corpus scores each row against it inside a mapPartitions kernel — no
 * shuffle of the corpus ([[broadcastQueryScan]] states the id and
 * eligibility contract they share). They differ only in what they broadcast
 * and how a corpus row scores:
 *
 *  - [[topK]] / [[rangeSearch]] / [[hardNegatives]] — exact cosine against
 *                   every query; the correctness baseline and the right plan
 *                   when queries ≪ corpus.
 *  - [[topKLsh]]  — sign-random-hyperplane buckets: only same-bucket pairs
 *                   are scored. Approximate (bucket boundary misses);
 *                   deterministic (hyperplanes from a fixed integer formula).
 *  - [[topKIvf]]  — id-seeded Lloyd centroids: each query scores only the
 *                   inverted lists it probes.
 *  - [[topKPq]] / [[topKIvfPq]] / [[topKIvfPqResidual]] and the persisted
 *                   [[pqSearchEncoded]] / [[ivfPqSearchEncoded]] — product
 *                   quantization, asymmetric-distance (ADC) table lookups.
 *  - [[topKSq]] / [[sqSearchEncoded]] — int8 scalar-quantized codes.
 *  - [[topKStrings]] — string similarity search = thin wrapper over
 *                   [[SimJoin.keyedPairs]] with the query side broadcast.
 *
 * Ranked searches cut per query with one window, (score desc, neighbor id
 * asc) on the unrounded score ([[topKPerQuery]]; Spark pushes the rank filter
 * down as WindowGroupLimit). Cosine is computed as a sequential left-to-right
 * fold in Double (the same result as SQL `aggregate`/`list_sum` folds,
 * mirrored in the DuckDB oracle; outputs are rounded before comparison).
 */
object SimSearch {

  /** dot(a,b) / (||a||·||b||), sequential fold in Double; null/empty/mismatch → null. */
  val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a == null || b == null || a.isEmpty || a.length != b.length) None
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) None
      else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  def cosineCol(a: Column, b: Column): Column = cosineUdf(a, b)

  /** Enforce the integral-id contract (see [[broadcastQueryScan]]). */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String, side: String): Unit =
    requireIntegral(df, idCol, side, "id", "kernel ids are primitive Longs")

  /** Labels compare as Longs inside the kernels: a double label would merge
    * 1.2 and 1.7, and a string one would fail mid-job under ANSI casts. */
  private def requireIntegralLabel(df: DataFrame, labelCol: String, side: String): Unit =
    requireIntegral(df, labelCol, side, "label", "labels compare as Longs")

  private def requireIntegral(
      df: DataFrame, c: String, side: String, kind: String, why: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(df.schema.fieldIndex(c)).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$side $kind column '$c' must be an integral type ($why), " +
        s"got ${dt.catalogString}; map your ${kind}s to Long first")
  }

  /** Fail fast BEFORE collecting the query side to the driver
    * ([[SizeGuard.requireFits]]). The kernel search operators are shaped for
    * queries ≪ corpus; without this, a user passing a corpus-sized frame as
    * `queries` gets a slow driver OOM instead of an actionable error.
    *
    * A slim filtered slice of a huge table (e.g. `corpus.filter(id < 50)`)
    * carries the whole table's filter-blind estimate, so an over-bound
    * estimate is refined by [[queryBytes]] before rejecting. */
  private[operators] def requireCollectableQueries(
      queries: DataFrame, qId: String, qVec: String): Unit =
    SizeGuard.requireFits(queries.select(col(qId), col(qVec)), "query side",
      "these operators broadcast the query side: pass the smaller frame as queries, or use " +
        "the fully-relational Dedup.embeddingPairsLsh path, which never collects either side",
      exactBytes = Some(queryBytes(qVec)))

  /** Exact collect size of a query side: ONE aggregation `sum(16 + 4·size(vec))`
    * over the slim projection — 16 bytes per row (id + header) plus 4 per
    * float element. It scans id and length, never vector values; a sampled
    * mean row width would under-count heterogeneous vector widths. Null
    * vectors count as bare rows (explicit when(): size(null) is -1 or null
    * depending on spark.sql.legacy.sizeOfNull — use neither); sum() is null
    * on an empty frame. */
  private[graft] def queryBytes(qVec: String)(queries: DataFrame): Long =
    queries
      .agg(coalesce(
        sum(lit(16L) + lit(4L) *
          when(col(qVec).isNull, lit(0L)).otherwise(size(col(qVec)).cast("long"))),
        lit(0L)))
      .head().getLong(0)

  /** Codegen'd native form of [[cosineCol]] ([[graft.functions.CosineSimExpr]])
    * — same arithmetic/null semantics, no ScalaUDF boxing; use in relational
    * plans where the pair relation comes from a join. */
  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CosineSimExpr(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** A corpus or query row as the kernels read it: (id, vector, L2 norm). */
  private type Vec = (Long, Array[Float], Double)

  /** Schema of every [[broadcastQueryScan]]: the unrounded score `__cos`. */
  private val ScanSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("query_id", LongType), StructField("neighbor_id", LongType),
      StructField("__cos", DoubleType)))
  }

  /**
   * THE broadcast-query scan every kernel search runs: check the ids, guard
   * and collect the query side into `payload`, broadcast it, and scan the
   * corpus once in mapPartitions, where `score` turns each corpus row into
   * (query_id, neighbor_id, __cos) rows. Tight primitive loops, no per-pair
   * boxing, no shuffle of the corpus.
   *
   * ID CONTRACT: both id columns must be integral (castable to Long without
   * nulling) — the kernels carry ids in primitive arrays. A non-integral id
   * column is rejected at plan time rather than silently nulled to an empty
   * result by the cast.
   *
   * ELIGIBILITY CONTRACT, shared by every scorer: a row with a null id, a
   * null vector (or codes), or a zero norm (no defined angle) never scores
   * on either side; a pair scores only when the two vectors share a
   * dimension (PQ paths: the codebook's); `excludeSelf` drops query_id =
   * neighbor_id.
   *
   * The query side is guarded by [[requireCollectableQueries]] before
   * `payload` runs, so an oversized query side fails before any job.
   *
   * @param corpusCols the scanned columns after the id (cast to Long), which
   *        the scorer reads as `r(1)`, `r(2)`, …; a row with a null id or
   *        null first column is skipped before `score` sees it
   * @return (query_id: Long, neighbor_id: Long, __cos: Double)
   */
  private def broadcastQueryScan[P: ClassTag](
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, corpusSide: String, corpusCols: Column*)(
      payload: => P)(score: (P, Row) => Iterator[Row]): DataFrame = {
    requireIntegralId(corpus, cId, corpusSide)
    requireIntegralId(queries, qId, "queries")
    requireCollectableQueries(queries, qId, qVec)
    scanRows(corpus.select(col(cId).cast("long") +: corpusCols: _*), ScanSchema, payload)(score)
  }

  /**
   * THE per-row corpus scan: `payload` is broadcast and `slim` — the id cast
   * to Long, then the scanned columns — is read once in mapPartitions, where
   * `f` turns each row into rows of `schema`. A row with a null id or a null
   * first column is skipped before `f` sees it. No shuffle of the corpus. The
   * kernel searches ([[broadcastQueryScan]]), the encoders and every
   * centroid assignment ([[kmeansAssign]], `Dedup.semDedup`,
   * `Dedup.clusterExemplars`) scan through it.
   */
  private[operators] def scanRows[P: ClassTag](
      slim: DataFrame, schema: org.apache.spark.sql.types.StructType, payload: P)(
      f: (P, Row) => Iterator[Row]): DataFrame = {
    val spark = slim.sparkSession
    val bc = spark.sparkContext.broadcast(payload)
    val rdd = slim.rdd.mapPartitions { rows =>
      val p = bc.value
      rows.flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty else f(p, r))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** The exact sequential cosine fold of [[cosineUdf]], norms precomputed
    * (callers check the dimensions match). */
  private def cosine(qv: Array[Float], qSqrt: Double, cv: Array[Float], cSqrt: Double): Double = {
    var dot = 0.0; var d = 0
    while (d < qv.length) { dot += qv(d).toDouble * cv(d).toDouble; d += 1 }
    dot / (qSqrt * cSqrt)
  }

  /** The queries of a float-vector search, read by [[vecWithNorm]]. */
  private def queryVecs(queries: DataFrame, qId: String, qVec: String): Array[Vec] =
    queries.select(col(qId).cast("long"), col(qVec)).collect().flatMap(vecWithNorm)

  /**
   * THE per-query top-k: rank each query's scan rows by (__cos desc,
   * neighbor_id asc) — the unrounded score with id ties, so the cut is
   * bit-stable across engines — keep the first k, and select `score`, the
   * caller's name and rounding of `__cos`.
   */
  private def topKPerQuery(scored: DataFrame, k: Int, score: Column): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cos").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), score)
  }

  /** `__cos` rounded to 4 decimals as `name` — the ranked outputs' score. */
  private def rounded(name: String): Column = round(col("__cos"), 4).as(name)

  /**
   * Broadcast cosine kernel — the fast path for all-pairs scoring: exact
   * cosine of every (query, corpus) pair over [[broadcastQueryScan]]. The
   * double arithmetic is the exact sequential fold of [[cosineUdf]], so
   * results are bit-identical.
   *
   * @param minCos        emit only pairs with cosine ≥ minCos
   * @param onlyQueryLess emit only pairs with query_id < corpus id (unordered
   *                      pairs exactly once — the near-dup shape)
   * @param excludeLabelMatch (query, corpus) label columns: a pair is skipped
   *                      when BOTH labels are non-null and equal — the label
   *                      rides the broadcast/scan, so the exclusion costs
   *                      nothing extra in the plan
   * @return (query_id: Long, neighbor_id: Long, __cos: Double)
   */
  private[operators] def broadcastCosine(
      corpus: DataFrame, cId: String, cVec: String,
      queries: DataFrame, qId: String, qVec: String,
      minCos: Double = Double.NegativeInfinity,
      onlyQueryLess: Boolean = false,
      excludeSelf: Boolean = false,
      excludeLabelMatch: Option[(String, String)] = None): DataFrame = {
    def label(c: Option[String]): Column =
      c.map(col(_).cast("long")).getOrElse(lit(null).cast("long"))
    def labelOf(r: Row): java.lang.Long = if (r.isNullAt(2)) null else r.getLong(2)
    broadcastQueryScan(queries, qId, qVec, corpus, cId, "corpus",
        col(cVec), label(excludeLabelMatch.map(_._2))) {
      queries.select(col(qId).cast("long"), col(qVec), label(excludeLabelMatch.map(_._1)))
        .collect().flatMap(r => vecWithNorm(r).map(v => (v, labelOf(r))))
    } { (qs, r) =>
      vecWithNorm(r) match {
        case None => Iterator.empty
        case Some((cid, cv, cSqrt)) =>
          val clbl = labelOf(r)
          qs.iterator.flatMap { case ((qid, qv, qSqrt), qlbl) =>
            if (qv.length != cv.length) None
            else if (excludeSelf && qid == cid) None
            else if (onlyQueryLess && qid >= cid) None
            else if (qlbl != null && clbl != null && qlbl.longValue == clbl.longValue) None
            else {
              val cos = cosine(qv, qSqrt, cv, cSqrt)
              if (cos >= minCos) Some(Row(qid, cid, cos)) else None
            }
          }
      }
    }
  }

  /**
   * Range search — the FAISS `range_search` API shape: ALL corpus rows with
   * cosine ≥ `minCosine` to each query, not a fixed top-k. The right call
   * when the consumer wants "everything this similar" (duplicate sweeps,
   * recall-complete candidate generation) and result counts per query are
   * data-dependent. The threshold is applied to the UNROUNDED cosine (the
   * exact [[cosineUdf]] fold, bit-identical across engines), so the result
   * SET is deterministic; scores are then rounded to 4 for output.
   *
   * Plan shape: [[broadcastCosine]] — queries broadcast, ONE corpus scan,
   * no shuffle at all (no window: unlike [[topK]] there is no per-query
   * ranking step, so the 100-TB plan is a pure map).
   *
   * @return (query_id, neighbor_id, cosine rounded to 4)
   */
  def rangeSearch(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      minCosine: Double, excludeSelf: Boolean = false): DataFrame =
    broadcastCosine(corpus, cId, cVec, queries, qId, qVec,
      minCos = minCosine, excludeSelf = excludeSelf)
      .select(col("query_id"), col("neighbor_id"), rounded("cosine"))

  /**
   * Brute-force cosine top-k: for each query row, the k corpus rows with highest
   * cosine; ties broken by corpus id ascending. Output:
   * (query_id, neighbor_id, cosine rounded to 4 decimals).
   * Plan shape: corpus scan × broadcast(queries) → window top-k. Scales linearly
   * in |corpus| with |queries| replicated — the right brute-force layout.
   */
  def topK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, excludeSelf: Boolean = false): DataFrame =
    topKPerQuery(broadcastCosine(corpus, cId, cVec, queries, qId, qVec, excludeSelf = excludeSelf),
      k, rounded("cosine"))

  /**
   * FILTERED vector search — top-k among corpus vectors satisfying a
   * metadata predicate (the production retrieval shape: "nearest docs in
   * language X / under license Y / from source Z"). This is the
   * PRE-FILTER strategy: the predicate restricts the corpus BEFORE any
   * scoring, so each query gets exactly k qualifying neighbors — unlike
   * post-filtering an unfiltered k-shortlist, which under-fills whenever
   * fewer than k of the nearest k pass the predicate. Relationally the
   * predicate is just a filter ahead of the scan, so Catalyst pushes it
   * into the parquet source (with the corpus partitioned/bucketed by the
   * filter column it prunes whole files); the scoring plan is [[topK]]'s
   * broadcast-query pass over the survivors.
   *
   * @param predicate filter over the corpus frame's columns
   * @return (query_id, neighbor_id, cosine) — exactly min(k, survivors)
   *         rows per query
   */
  def topKFiltered(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      predicate: org.apache.spark.sql.Column,
      k: Int, excludeSelf: Boolean = false): DataFrame =
    topK(queries, qId, qVec, corpus.filter(predicate), cId, cVec, k,
      excludeSelf = excludeSelf)

  /**
   * k-NN LABEL EVALUATION — the embedding-quality receipt: predict each
   * query's label by majority vote of its k nearest LABELED neighbors
   * (cosine; self excluded, so corpus-drawn queries get leave-one-out
   * semantics) and roll up (true, predicted) confusion counts. The standard
   * "are these embeddings any good" probe before a space is trusted for
   * dedup/retrieval/clustering. Vote determinism: (count desc, label asc);
   * the k-cut itself is already (cosine desc, id asc)-pinned in [[topK]].
   *
   * Scale shape: [[topK]]'s broadcast-query scoring pass (queries bounded,
   * corpus never shuffled), one label join on the k·|queries| neighbor
   * relation, one windowed argmax, one confusion rollup. Both label columns
   * must be integral (rejected when the plan is built).
   *
   * @return (label_true, label_pred, n) — BIGINT labels, one row per
   *         confusion cell with ≥ 1 query
   */
  def knnLabelReport(
      queries: DataFrame, qId: String, qVec: String, qLabel: String,
      corpus: DataFrame, cId: String, cVec: String, cLabel: String,
      k: Int): DataFrame = {
    requireIntegralLabel(queries, qLabel, "queries")
    requireIntegralLabel(corpus, cLabel, "corpus")
    val nn = topK(queries, qId, qVec,
      corpus.filter(col(cLabel).isNotNull), cId, cVec, k, excludeSelf = true)
    val votes = nn.join(
        corpus.select(col(cId).as("neighbor_id"), col(cLabel).cast("long").as("__nl")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__nl")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__c").desc, col("__nl").asc)
    val pred = votes.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("__nl").as("label_pred"))
    queries.filter(col(qLabel).isNotNull)
      .select(col(qId).as("query_id"), col(qLabel).cast("long").as("label_true"))
      .join(pred, Seq("query_id"))
      .groupBy(col("label_true"), col("label_pred"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * 64-BIT SIGN FINGERPRINTS — the most aggressive embedding compression
   * (1 bit per dimension: bit d set iff component d > 0): a 64-dim float32
   * vector becomes ONE Long, 32× smaller than the floats and cheaper to
   * compare than any code book — Hamming distance between sign words tracks
   * angular distance (Charikar 2002 SRP with the identity basis). The
   * binary-sketch tier under [[topKSq]]/PQ: screen with Hamming, rerank the
   * shortlist with floats.
   * @return (idCol, sig BIGINT) — null/empty vectors absent; dims ≤ 64
   *         enforced at runtime.
   */
  def signFingerprints(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // Per-row OR-fold instead of posexplode + bit_or groupBy (r17): the sign
    // word is a function of one row's array, so the former shape paid a
    // full-relation exchange (and a 16-rows-per-vector explode) for an
    // aggregation whose groups were single vectors. The codegen'd fold
    // computes the identical Long — OR is order-independent — with ZERO
    // exchanges on either side of [[topKBinary]]'s broadcast (guide §2.4).
    // The >64-dims guard is the same plan-time raise_error branch the
    // exploded shape carried (d > 63 ⟺ size > 64).
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol),
        when(size(col(vecCol)) > 64, raise_error(lit(
          "signFingerprints: vector has more than 64 dimensions")).cast("long"))
          .otherwise(expr(
            s"aggregate(sequence(0, size($vecCol) - 1), CAST(0 AS BIGINT), " +
            s"(acc, d) -> acc | (CASE WHEN $vecCol[d] > 0 " +
            "THEN shiftleft(CAST(1 AS BIGINT), d) ELSE CAST(0 AS BIGINT) END))"))
          .as("sig"))

  /**
   * Brute-force HAMMING top-k over [[signFingerprints]] — ANN on the binary
   * sketch alone: the corpus side is one Long per vector, so the scan is
   * pure register arithmetic (`bit_count(xor)`) over 32× less data than the
   * float pass; queries broadcast as in [[topK]]. Deterministic ties
   * (hamming asc, neighbor asc).
   * @return (query_id, neighbor_id, hamming)
   */
  def topKBinary(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qf = signFingerprints(queries, qId, qVec)
      .select(col(qId).as("query_id"), col("sig").as("__qs"))
    val cfp = signFingerprints(corpus, cId, cVec)
      .select(col(cId).as("neighbor_id"), col("sig").as("__cs"))
    val pairs = cfp.crossJoin(broadcast(qf))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(bit_count(__qs ^ __cs) AS BIGINT)").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    pairs.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
  }

  /**
   * Two-tier retrieval over the binary sketch: [[topKBinary]] Hamming
   * shortlist (register arithmetic over 1 bit/dim), then EXACT cosine
   * rerank of the ≤ shortlist·|queries| surviving pairs — the screening
   * architecture every production ANN stack runs (cheap filter over the
   * full corpus, expensive scorer over a shortlist). Recall is bounded by
   * the shortlist (approximate by design); the rerank itself is the exact
   * [[cosineSim]] fold, ties (cosine desc, neighbor asc).
   * @return (query_id, neighbor_id, cosine rounded to 4)
   */
  def topKBinaryRerank(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, shortlist: Int, excludeSelf: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist must be >= k, got $shortlist < $k")
    val short = topKBinary(queries, qId, qVec, corpus, cId, cVec,
        shortlist, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
    val cv = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
    topKPerQuery(short.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .withColumn("__cos", cosineSim(col("__qv"), col("__cv"))), k, rounded("cosine"))
  }

  /**
   * Hard-negative mining — the contrastive-training data op: for each query
   * (an anchor with a class/positive-group label), the k corpus vectors MOST
   * similar to it whose label differs — the negatives a contrastive or
   * reranker loss learns the most from (Karpukhin et al. 2020 DPR mines
   * negatives exactly this way, from BM25/dense top results that are not
   * positives). Pairs where either label is null are never excluded —
   * unlabeled corpus rows are eligible negatives for every anchor. Both
   * label columns must be integral (rejected when the plan is built).
   *
   * Plan shape: identical to [[topK]] (queries broadcast with their labels,
   * ONE corpus scan, window top-k) — the label test runs inside the scan
   * kernel, so exclusion adds zero exchanges; in particular the
   * |corpus|·|queries| candidate relation is never re-joined to fetch
   * labels.
   *
   * @return (query_id, neighbor_id, cosine rounded to 4)
   */
  def hardNegatives(
      queries: DataFrame, qId: String, qVec: String, qLabel: String,
      corpus: DataFrame, cId: String, cVec: String, cLabel: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    requireIntegralLabel(queries, qLabel, "queries")
    requireIntegralLabel(corpus, cLabel, "corpus")
    topKPerQuery(broadcastCosine(corpus, cId, cVec, queries, qId, qVec,
        excludeSelf = excludeSelf, excludeLabelMatch = Some((qLabel, cLabel))),
      k, rounded("cosine"))
  }

  /**
   * ANN quality audit — per-query recall@k of the LSH index against exact
   * brute force, AS A GATED RELATION: the "is my index good enough" number
   * a production retrieval pipeline monitors, computed inside the engine
   * instead of in a notebook. Joins [[topK]]'s exact top-k with
   * [[topKLsh]]'s approximate top-k on (query, neighbor) and reduces per
   * query. Deterministic end to end (both rankings are), so the report
   * itself is oracle-verifiable — `Oracles.annRecallSql` re-runs both
   * chains in SQL.
   *
   * Plan shape: two corpus scans (one brute, one bucketed) + one
   * k·nQueries-row join — the audit costs one extra brute pass over the
   * corpus, which is the point: run it on a SAMPLE of queries at 100 TB and
   * let the LSH index serve the rest.
   *
   * @return (query_id, k_eval, n_hits, recall rounded to 6)
   */
  def recallReport(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nPlanes: Int = 8, nTables: Int = 2, excludeSelf: Boolean = false): DataFrame = {
    val brute = topK(queries, qId, qVec, corpus, cId, cVec, k, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    val lsh = topKLsh(queries, qId, qVec, corpus, cId, cVec, k,
        nPlanes, nTables, excludeSelf)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_eval"), sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(col("query_id"), col("k_eval"), col("n_hits"),
        round(col("n_hits").cast("double") / col("k_eval"), 6).as("recall"))
  }

  /** Fixed pseudo-random hyperplane component d of plane j (integer formula). */
  private[operators] def planeComponent(j: Int, d: Int): Double =
    (((j.toLong * 8191L + d.toLong) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5

  /** Sign-LSH bucket of `v`: bit j set iff dot(v, plane_(planeOffset+j)) > 0,
    * j in [0, nPlanes). Sequential d-ascending fold in Double — the shared
    * spec for the UDF, the kernels, and the DuckDB oracle mirror. A non-zero
    * `planeOffset` selects an independent hash table from the same fixed
    * plane family (OR-amplification across tables). */
  private[operators] def bucketOf(v: Array[Float], nPlanes: Int, planeOffset: Int = 0): Long = {
    var bucket = 0L
    var j = 0
    while (j < nPlanes) {
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d).toDouble * planeComponent(planeOffset + j, d); d += 1 }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** LSH bucket id column form of [[bucketOf]]. */
  def lshBucketUdf(nPlanes: Int) = udf { (v: Seq[Float]) =>
    if (v == null) None else Some(bucketOf(v.toArray, nPlanes))
  }

  /** All nTables bucket ids of `v` (table t uses planes [t·nPlanes, (t+1)·nPlanes)). */
  def lshBucketsUdf(nPlanes: Int, nTables: Int) = udf { (v: Seq[Float]) =>
    if (v == null) None
    else {
      val arr = v.toArray
      Some((0 until nTables).map(t => bucketOf(arr, nPlanes, t * nPlanes)))
    }
  }

  /**
   * Approximate cosine top-k via sign-LSH bucketing: both sides hashed into
   * 2^nPlanes buckets; only same-bucket pairs scored. Approximate (bucket
   * boundary misses); deterministic (hyperplanes from a fixed integer formula);
   * recall tunable via nPlanes (fewer planes → bigger buckets → higher recall,
   * more work).
   *
   * Plan shape: the (small) query side is collected, bucketed, and broadcast as
   * a (table, bucket) → queries hash map; one linear corpus scan computes each
   * corpus row's buckets and scores it against ONLY the same-bucket queries
   * inside a mapPartitions kernel (tight primitive loops, no per-pair boxed
   * UDF — the [[broadcastCosine]] pattern). At 100 TB the corpus is never
   * shuffled and per-row work drops from |Q| dot products (brute [[topK]]) to
   * nTables × the bucket's expected |Q|/2^nPlanes. Cosine arithmetic is the
   * exact sequential fold of [[cosineUdf]], so scores are bit-identical to the
   * brute path.
   *
   * @param nTables number of independent hash tables (OR-amplification, the
   *        same knob as [[Dedup.embeddingPairsLsh]]): a (query, corpus) pair is
   *        scored if it collides in ANY table — per-pair recall
   *        1-(1-p^nPlanes)^nTables, so more tables strictly improve recall at
   *        nTables× candidate cost. Table t uses plane family
   *        [t·nPlanes, (t+1)·nPlanes); a pair colliding in several tables is
   *        scored once.
   */
  def topKLsh(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nPlanes: Int = 8, nTables: Int = 1, excludeSelf: Boolean = false): DataFrame = {
    require(nPlanes > 0 && nPlanes <= 32, s"need 0 < nPlanes <= 32, got $nPlanes")
    require(nTables > 0, s"need nTables > 0, got $nTables")
    // one shared map over all tables, keyed (t << nPlanes) | bucket
    val scored = broadcastQueryScan(queries, qId, qVec, corpus, cId, "corpus", col(cVec)) {
      grouped(queryVecs(queries, qId, qVec).flatMap { case q @ (_, v, _) =>
        (0 until nTables).map(t => ((t.toLong << nPlanes) | bucketOf(v, nPlanes, t * nPlanes), q))
      })
    } { (buckets, r) =>
      val cid = r.getLong(0)
      val cv = r.getSeq[Float](1).toArray
      // Probe all tables FIRST: the overwhelming majority of corpus rows
      // collide with no query in any table, and must pay only the bucket
      // hashes — the O(d) norm pass and the per-row collections are
      // allocated lazily on the first hit.
      var seen: java.util.HashSet[Long] = null
      var out: scala.collection.mutable.ArrayBuffer[Row] = null
      var cSqrt = 0.0
      var t = 0
      while (t < nTables) {
        buckets.get((t.toLong << nPlanes) | bucketOf(cv, nPlanes, t * nPlanes)) match {
          case Some(qs) =>
            if (out == null) {
              var cn = 0.0; var i = 0
              while (i < cv.length) { cn += cv(i).toDouble * cv(i).toDouble; i += 1 }
              if (cn == 0.0) t = nTables // zero vector: skip all tables
              else {
                cSqrt = math.sqrt(cn)
                seen = new java.util.HashSet[Long]()
                out = scala.collection.mutable.ArrayBuffer.empty[Row]
              }
            }
            if (out != null) {
              // OR-amplification: score each colliding query once (dedup
              // by query id across tables)
              var qi = 0
              while (qi < qs.length) {
                val (qid, qv, qSqrt) = qs(qi)
                if (qv.length == cv.length && !(excludeSelf && qid == cid) &&
                    seen.add(qid)) {
                  out += Row(qid, cid, cosine(qv, qSqrt, cv, cSqrt))
                }
                qi += 1
              }
            }
          case None => ()
        }
        t += 1
      }
      if (out == null) Iterator.empty else out.iterator
    }
    topKPerQuery(scored, k, rounded("cosine"))
  }

  /**
   * K-MEANS ASSIGNMENT relation — the clustering primitive itself, exposed
   * (the [[topKIvf]] coarse quantizer and [[ivfReport]] audit both consume
   * it): deterministic id-ranked seeds, `nIters` integer-quantized
   * Lloyd passes (see [[topKIvf]] — exact commutative Long sums, so the
   * refined centroids are partition-invariant and SQL-mirrorable), then one
   * corpus scan assigning every vector to its (cosine desc, index asc)
   * nearest centroid. This is the label column semantic-curation pipelines
   * join everything else against (SemDeDup clusters, per-cluster sampling
   * quotas, cluster-balanced mixtures).
   *
   * Plan shape: centroids broadcast, one [[scanRows]] pass — the corpus
   * never shuffles; output is (id, cluster, cos_micro) longs.
   *
   * @return (cId, cluster, cos_micro) — cos_micro = floor(cos·10⁶) of the
   *         vector against its winning centroid. Null/zero-norm rows absent.
   */
  def kmeansAssign(
      corpus: DataFrame, cId: String, cVec: String,
      k: Int = 16, nIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.types._
    require(k > 0, s"k must be positive, got $k")
    require(nIters >= 0, s"nIters must be >= 0, got $nIters")
    requireIntegralId(corpus, cId, "corpus")
    val slim = corpus.select(col(cId).cast("long"), col(cVec))
    val cents = trainCentroids(slim, cId, k, nIters)._1
    val schema = StructType(Seq(
      StructField("__cid", LongType), StructField("cluster", IntegerType),
      StructField("cos_micro", LongType)))
    scanRows(slim, schema, cents) { (cs, r) =>
      vecWithNorm(r).iterator.map { case (id, v, n) =>
        val cos = ivfCentroidCos(cs, v, n)
        val j = argmax(cos)
        Row(id, j, math.floor(cos(j) * 1000000.0).toLong)
      }
    }.select(col("__cid").as(cId), col("cluster").cast("long").as("cluster"),
        col("cos_micro"))
  }

  /**
   * IVF quantizer-health audit — the index report a production ANN stack
   * reads before trusting probe settings: per coarse centroid, how many
   * vectors landed there (`n_assigned` — skewed occupancy means probes scan
   * uneven list sizes) and how tight the cluster is (`mean_cos` of each
   * member to its centroid — low cohesion predicts recall loss at small
   * nProbe). [[kmeansAssign]] with [[topKIvf]]'s seeding + Lloyd chain, then
   * one |clusters|-key exchange aggregates. Per-member cosines floor to
   * integer micro-units so the sums are exact; the mean is the double
   * division of those exact integers. Empty clusters are absent (nothing
   * assigned).
   *
   * @return (cluster, n_assigned, sum_cos_micro, mean_cos rounded to 6)
   */
  def ivfReport(
      corpus: DataFrame, cId: String, cVec: String,
      nList: Int = 16, nIters: Int = 0): DataFrame = {
    require(nList > 0, s"nList must be positive, got $nList")
    kmeansAssign(corpus, cId, cVec, nList, nIters)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("cos_micro")).as("sum_cos_micro"))
      .select(col("cluster"), col("n_assigned"), col("sum_cos_micro"),
        round(col("sum_cos_micro").cast("double") /
          (col("n_assigned").cast("double") * lit(1000000.0)), 6).as("mean_cos"))
  }

  /**
   * Approximate cosine top-k via an IVF (inverted-file) coarse quantizer — the
   * second scale path beside [[topKLsh]]:
   *
   *  - coarse centroids: the nList corpus vectors with the SMALLEST ids
   *    (deterministic seed assignment), optionally refined by `nIters`
   *    DETERMINISTIC Lloyd (k-means) iterations — per iteration one
   *    distributed assignment pass accumulates INTEGER-QUANTIZED per-dimension
   *    sums (`floor(x·10⁶ + 0.5)` as Long — exact commutative adds, so the
   *    result is invariant to partitioning and reduction order), and the new
   *    centroid is the quantized mean. Both the seed and every iteration are
   *    exactly SQL-mirrorable (see Oracles.annIvfSql), so the refined operator
   *    stays oracle-checked, while recall on clustered data improves over the
   *    raw seed quantizer (spec-pinned);
   *  - every corpus vector is assigned to its nearest centroid by
   *    (cosine desc, centroid-index asc) — the inverted lists;
   *  - each query probes its nProbe nearest centroids and scores ONLY vectors
   *    in those lists.
   *
   * Plan shape: centroids and bucketed queries are broadcast; each Lloyd
   * iteration is one corpus scan collecting nList×dim Longs per partition;
   * the final scan assigns each vector's list and scores it against the
   * queries probing that list inside a mapPartitions kernel — no shuffle of
   * the corpus, per-row work ≈ nList centroid dots + the probing queries.
   * Recall is tunable via nProbe (nProbe = nList degenerates to brute force).
   * Cosine arithmetic is the exact sequential fold of [[cosineUdf]].
   *
   * @param nIters Lloyd refinement iterations (0 = raw seed centroids).
   *        Empty or zero-norm clusters keep their previous centroid.
   *        Requires uniform vector dimensions when > 0 (fails fast otherwise).
   *        [[ivfReport]] is the quantizer's health audit.
   */
  def topKIvf(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nList: Int = 16, nProbe: Int = 4, nIters: Int = 0,
      excludeSelf: Boolean = false): DataFrame = {
    require(nList > 0 && nProbe > 0 && nProbe <= nList,
      s"need 0 < nProbe <= nList, got nList=$nList nProbe=$nProbe")
    require(nIters >= 0, s"nIters must be >= 0, got $nIters")
    val scored = broadcastQueryScan(queries, qId, qVec, corpus, cId, "corpus", col(cVec)) {
      val cents = trainCentroids(corpus.select(col(cId).cast("long"), col(cVec)), cId,
        nList, nIters)._1
      // each query enters the lists of its nProbe nearest centroids
      val probes = queryVecs(queries, qId, qVec).flatMap { case q @ (_, qv, qn) =>
        nearestLists(cents, qv, qn, nProbe).map(_ -> q)
      }
      (cents, grouped(probes))
    } { case ((cents, byList), r) =>
      vecWithNorm(r) match {
        case None => Iterator.empty
        case Some((cid, cv, cSqrt)) =>
          byList.get(ivfNearest(cents, cv, cSqrt)) match {
            case None => Iterator.empty
            case Some(qs) =>
              qs.iterator.flatMap { case (qid, qv, qSqrt) =>
                if (qv.length != cv.length) None
                else if (excludeSelf && qid == cid) None
                else Some(Row(qid, cid, cosine(qv, qSqrt, cv, cSqrt)))
              }
          }
      }
    }
    topKPerQuery(scored, k, rounded("cosine"))
  }

  /**
   * Product-Quantization (PQ) compressed ANN (Jégou/Douze/Schmid 2011,
   * "Product quantization for nearest neighbor search") — the third scale
   * path beside [[topKLsh]]/[[topKIvf]], for when even one float per
   * dimension per corpus row is too much memory/IO: the vector space is
   * split into `nSub` contiguous subspaces; each subspace gets a `ksub`-entry
   * codebook (deterministically seeded from the ksub smallest-id corpus
   * vectors' sub-vectors — the [[topKIvf]] seeding rule applied per
   * subspace — then refined by `nIters` per-subspace Lloyd passes, see
   * [[pqTrainModel]]); every corpus vector is ENCODED as nSub small codes
   * (argmin squared-L2 per subspace, ties to the smaller code). Search is
   * asymmetric-distance computation (ADC): each query precomputes an
   * nSub×ksub table of sub-dot-products against the codebooks, and a
   * corpus row scores in O(nSub) table lookups instead of O(dim)
   * multiplies — with the encoded corpus at nSub bytes/row (ksub ≤ 256)
   * vs 4·dim, a 32× compression at dim=64, nSub=8.
   *
   * The returned score is the ADC cosine: cos(q, recon(v)) where recon = the
   * concatenation of v's chosen codewords. Approximate — quantization error
   * moves scores and can reorder close neighbors; exact ranking is [[topK]].
   *
   * Determinism/oracle contract: every accumulation is a fixed-order
   * sequential fold (d-ascending within a subspace, subspaces m-ascending),
   * mirrored 1:1 by `Oracles.annPqSql`'s `list_sum(list(... ORDER BY m))`
   * chains, so encoding and scores are bit-identical across engines.
   * Eligibility as the other kernels: null / zero-full-norm vectors (either
   * side) are absent; corpus rows whose RECONSTRUCTION has zero norm are
   * dropped (no defined angle). Requires dim % nSub == 0 and uniform
   * dimensions (fails fast); corpus rows of a different dimension than the
   * codebook are skipped.
   *
   * Plan shape at 100 TB: the codebooks (nSub·ksub·subDim doubles — KBs)
   * broadcast with the queries' ADC tables over [[broadcastQueryScan]]; ONE
   * corpus scan encodes and scores with no shuffle of the corpus; per-query
   * top-k via the usual window. At petabyte scale the
   * natural extension is persisting the encoded corpus and re-scanning only
   * codes — that split is [[pqEncode]] → [[pqSearchEncoded]]; this fused
   * form re-encodes per call for single-job simplicity.
   *
   * @return (query_id, neighbor_id, adc_cosine rounded to 4)
   */
  def topKPq(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nSub: Int = 8, ksub: Int = 16, nIters: Int = 0,
      excludeSelf: Boolean = false): DataFrame = {
    val scored = broadcastQueryScan(queries, qId, qVec, corpus, cId, "corpus", col(cVec)) {
      val model = pqTrainModel(corpus, cId, cVec, nSub, ksub, nIters)
      (model, pqAdcTables(queries, qId, qVec, model).map(_._3))
    } { case ((m0, qs), r) =>
      vecWithNorm(r) match {
        case Some((cid, cv, _)) if cv.length == m0.dim =>
          val codes = pqEncodeVec(cv, m0)
          adcHits(qs, cid, codes, m0.reconNorm2(codes), excludeSelf)
        case _ => Iterator.empty
      }
    }
    topKPerQuery(scored, k, rounded("adc_cosine"))
  }

  /**
   * Two-stage PQ search — the FAISS "search then refine" layout: an ADC
   * shortlist of `shortlist` candidates per query from [[topKPq]] (codes-only
   * scan, 32× compressed corpus), each candidate then re-scored EXACTLY
   * against the raw float vectors and cut to the final top-k. Recovers
   * brute-force-quality ranking at shortlist-sized exact cost: the second
   * stage touches `nQueries · shortlist` float vectors, not the corpus.
   *
   * Plan shape at 100 TB: stage 1 is [[topKPq]]'s single corpus scan (no
   * corpus shuffle); the tiny (query_id, neighbor_id) shortlist joins the
   * query vectors small×small, then broadcasts into ONE corpus scan that
   * fetches the shortlisted float vectors — exact scoring runs inside
   * whole-stage codegen ([[cosineSim]], no ScalaUDF). Nothing large ever
   * shuffles; the only window is over nQueries·shortlist rows.
   *
   * Determinism/oracle contract: the stage-1 shortlist is cut on the
   * UNROUNDED ADC cosine with neighbor-id ties (bit-identical across
   * engines, so the shortlist SET matches `Oracles.annPqRerankSql`); exact
   * scores use the [[graft.functions.CosineSimExpr]] d-ascending fold =
   * the oracle's `list_sum(list_transform(...))` chain.
   *
   * @param shortlist ADC candidates per query (≥ k); FAISS's `k_factor·k`
   * @return (query_id, neighbor_id, cosine rounded to 4) — exact scores
   */
  def topKPqRerank(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, shortlist: Int, nSub: Int = 8, ksub: Int = 16, nIters: Int = 0,
      excludeSelf: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val sl = topKPq(queries, qId, qVec, corpus, cId, cVec, shortlist,
        nSub, ksub, nIters, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(sl, queries, qId, qVec, corpus, cId, cVec, k)
  }

  /** Trained product-quantizer: per-subspace codebooks `cw(m)(j)(d)` (Doubles)
    * with their precomputed squared norms `cn2(m)(j)` (d-ascending folds).
    * Small (nSub·ksub·subDim doubles — KBs); rides closures/broadcasts whole.
    * Build with [[pqTrainModel]]; consume with [[pqEncode]] /
    * [[pqSearchEncoded]] (the persisted-corpus path) or [[topKPq]] (fused). */
  final case class PqModel(nSub: Int, subDim: Int, cw: Array[Array[Array[Double]]])
      extends Serializable {
    def dim: Int = nSub * subDim
    def nCodes: Int = cw(0).length
    val cn2: Array[Array[Double]] = Array.tabulate(nSub, nCodes) { (m, j) =>
      var n = 0.0; var d = 0
      while (d < subDim) { n += cw(m)(j)(d) * cw(m)(j)(d); d += 1 }
      n
    }
    /** Squared norm of the reconstruction of `codes` (m-ascending fold). */
    private[operators] def reconNorm2(codes: Array[Int]): Double = {
      var n2 = 0.0; var m = 0
      while (m < nSub) { n2 += cn2(m)(codes(m)); m += 1 }
      n2
    }
  }

  /** One query of an ADC search: its table `tbl(m)(j) = dot(q_m, c_mj)`, its
    * norm folded per subspace, and the dot's starting term `qc` — dot(q,
    * c_list) on the residual path, 0 elsewhere. */
  private final case class AdcQuery(
      qid: Long, tbl: Array[Array[Double]], qSqrt: Double, qc: Double = 0.0)

  /** THE ADC scorer: one corpus row's `codes` against `qs`, dot = qc +
    * Σ_m tbl(m)(code_m) (m ascending) over the reconstruction norm
    * sqrt(`rn2`); a zero-norm reconstruction has no angle and never scores. */
  private def adcHits(
      qs: Array[AdcQuery], cid: Long, codes: Array[Int], rn2: Double,
      excludeSelf: Boolean): Iterator[Row] =
    if (rn2 <= 0.0) Iterator.empty
    else {
      val rSqrt = math.sqrt(rn2)
      qs.iterator.filterNot(q => excludeSelf && q.qid == cid).map { q =>
        var dot = q.qc; var m = 0
        while (m < codes.length) { dot += q.tbl(m)(codes(m)); m += 1 }
        Row(q.qid, cid, dot / (q.qSqrt * rSqrt))
      }
    }

  /** Persisted codes are unsigned bytes, so any ksub ≤ 256 round-trips;
    * None when `raw` does not hold one code per subspace. */
  private def decodeCodes(raw: Array[Byte], nSub: Int): Option[Array[Int]] =
    if (raw.length == nSub) Some(raw.map(_ & 0xFF)) else None

  /** Shared row reader for (id: castable-to-long, vec: array<float>) frames:
    * null-safe, returns the vector and its L2 norm, None for null/zero-norm
    * rows (no defined angle — excluded everywhere by the kernel contracts). */
  private[operators] def vecWithNorm(r: Row): Option[Vec] = {
    if (r.isNullAt(0) || r.isNullAt(1)) None
    else {
      val v = r.getSeq[Float](1).toArray
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i).toDouble * v(i).toDouble; i += 1 }
      if (n == 0.0) None else Some((r.getLong(0), v, math.sqrt(n)))
    }
  }

  /**
   * Train a [[PqModel]] on `corpus`: codebooks seeded per subspace from the
   * `ksub` smallest-id eligible vectors' sub-vectors (the [[topKIvf]] seeding
   * rule), then refined by `nIters` deterministic per-subspace Lloyd passes —
   * each pass encodes every eligible uniform-dim vector (argmin squared-L2,
   * tie → smaller code) and rebuilds each codeword as the integer-quantized
   * mean of its assigned sub-vectors (`floor(x·10⁶ + 0.5)` Long sums — exact,
   * commutative, partitioning-invariant, and mirrored verbatim by
   * `Oracles.annPqSql`'s unrolled training CTEs, so codebooks are
   * bit-identical across engines). Empty codewords keep their previous value
   * (zero-norm means are allowed — unlike IVF centroids, a zero codeword
   * breaks nothing: encoding is squared-L2 and reconstruction-norm zero rows
   * are dropped at scoring). One corpus scan per iteration; the driver
   * collects only partitions × nSub × ksub × subDim Longs.
   */
  def pqTrainModel(
      corpus: DataFrame, cId: String, cVec: String,
      nSub: Int = 8, ksub: Int = 16, nIters: Int = 0): PqModel = {
    require(nSub > 0, s"nSub must be positive, got $nSub")
    require(ksub > 0 && ksub <= 256, s"need 0 < ksub <= 256 (codes are bytes), got $ksub")
    require(nIters >= 0, s"nIters must be >= 0, got $nIters")
    requireIntegralId(corpus, cId, "corpus")
    val slim = corpus.select(col(cId).cast("long"), col(cVec))
    trainCodebooks(slim, seedPool(slim, cId, ksub).flatten.map(_._2.map(_.toDouble)),
      nSub, nIters)
  }

  /** Codebooks seeded per subspace from `seeds` (one codeword per seed, in
    * seed order), then refined by `nIters` [[pqRefine]] passes in the space
    * `toVec` maps each eligible vector into: the vector itself, or its
    * centroid residual for [[topKIvfPqResidual]]. */
  private def trainCodebooks(
      slim: DataFrame, seeds: Array[Array[Double]], nSub: Int, nIters: Int,
      toVec: (Array[Float], Double) => Array[Double] = (v, _) => v.map(_.toDouble)): PqModel = {
    require(seeds.nonEmpty, "corpus has no non-null non-zero vectors to seed codebooks")
    val dim = seeds(0).length
    require(seeds.forall(_.length == dim),
      s"codebook seeds must share one dimension, got ${seeds.map(_.length).distinct.toSeq}")
    require(dim % nSub == 0, s"dim $dim must be divisible by nSub $nSub")
    val subDim = dim / nSub
    val cw0 = Array.tabulate(nSub, seeds.length) { (m, j) =>
      Array.tabulate(subDim)(d => seeds(j)(m * subDim + d))
    }
    PqModel(nSub, subDim, pqRefine(slim, cw0, dim, nSub, subDim, nIters, toVec))
  }

  /** Per-subspace argmin-squared-L2 code (d-ascending fold, tie → smaller j)
    * — THE encoding step, shared by training, [[pqEncode]] and the fused
    * search paths so all four agree bit-for-bit. */
  private[operators] def pqNearestSub(
      v: Array[Float], m: Int, subDim: Int, cwm: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var j = 0
    while (j < cwm.length) {
      var dist = 0.0; var d = 0
      while (d < subDim) {
        val diff = v(m * subDim + d).toDouble - cwm(j)(d)
        dist += diff * diff; d += 1
      }
      if (dist < bestD) { bestD = dist; best = j }
      j += 1
    }
    best
  }

  /** [[pqNearestSub]] over a Double vector (the residual-space paths). */
  private[operators] def pqNearestSubD(
      v: Array[Double], m: Int, subDim: Int, cwm: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var j = 0
    while (j < cwm.length) {
      var dist = 0.0; var d = 0
      while (d < subDim) {
        val diff = v(m * subDim + d) - cwm(j)(d)
        dist += diff * diff; d += 1
      }
      if (dist < bestD) { bestD = dist; best = j }
      j += 1
    }
    best
  }

  /** All `nSub` codes for one uniform-dim vector (see [[pqNearestSub]]). */
  private[operators] def pqEncodeVec(v: Array[Float], model: PqModel): Array[Int] = {
    val codes = new Array[Int](model.nSub)
    var m = 0
    while (m < model.nSub) { codes(m) = pqNearestSub(v, m, model.subDim, model.cw(m)); m += 1 }
    codes
  }

  /** `nIters` deterministic per-subspace Lloyd passes (see [[pqTrainModel]]).
    * `toVec` maps each eligible (vector, norm) into the training space (see
    * [[trainCodebooks]]). */
  private def pqRefine(
      slim: DataFrame, cw0: Array[Array[Array[Double]]],
      dim: Int, nSub: Int, subDim: Int, nIters: Int,
      toVec: (Array[Float], Double) => Array[Double]): Array[Array[Array[Double]]] = {
    var cw = cw0
    val sc = slim.sparkSession.sparkContext
    var it = 0
    while (it < nIters) {
      val nCodes = cw(0).length
      val bcC = sc.broadcast(cw)
      val partials = slim.rdd.mapPartitions { rows =>
        val cws = bcC.value
        val sums = Array.fill(nSub, nCodes)(new Array[Long](subDim))
        val cnts = Array.fill(nSub)(new Array[Long](nCodes))
        rows.foreach { r =>
          vecWithNorm(r) match {
            case Some((_, v0, n0)) if v0.length == dim =>
              val v = toVec(v0, n0)
              var m = 0
              while (m < nSub) {
                val j = pqNearestSubD(v, m, subDim, cws(m))
                val s = sums(m)(j); var d = 0
                while (d < subDim) {
                  s(d) += math.floor(v(m * subDim + d) * IvfQuantScale + 0.5).toLong
                  d += 1
                }
                cnts(m)(j) += 1L
                m += 1
              }
            case _ => ()
          }
        }
        Iterator.range(0, nSub * nCodes)
          .map(x => (x / nCodes, x % nCodes, sums(x / nCodes)(x % nCodes), cnts(x / nCodes)(x % nCodes)))
      }.collect()
      val sumAll = Array.fill(nSub, nCodes)(new Array[Long](subDim))
      val cntAll = Array.fill(nSub)(new Array[Long](nCodes))
      partials.foreach { case (m, j, s, c) =>
        val t = sumAll(m)(j); var d = 0
        while (d < subDim) { t(d) += s(d); d += 1 }
        cntAll(m)(j) += c
      }
      cw = Array.tabulate(nSub, nCodes) { (m, j) =>
        if (cntAll(m)(j) == 0L) cw(m)(j)
        else Array.tabulate(subDim) { d =>
          sumAll(m)(j)(d).toDouble / (IvfQuantScale * cntAll(m)(j))
        }
      }
      bcC.unpersist(false)
      it += 1
    }
    cw
  }

  /** Query-side ADC tables: per eligible uniform-dim query, `tbl(m)(j) =
    * dot(q_m, c_mj)` (d-ascending folds) plus the query norm folded per
    * subspace — the collect-and-broadcast half of every PQ search path.
    * Each entry comes with the raw vector and its sequential
    * [[vecWithNorm]] norm, which coarse-list probing uses (the DuckDB
    * oracles mirror each of the two norm folds where it is used). */
  private def pqAdcTables(
      queries: DataFrame, qId: String, qVec: String,
      model: PqModel): Array[(Array[Float], Double, AdcQuery)] = {
    val nSub = model.nSub; val subDim = model.subDim
    queryVecs(queries, qId, qVec).filter(_._2.length == model.dim).map { case (qid, qv, qn) =>
      val tbl = Array.tabulate(nSub, model.nCodes) { (m, j) =>
        var dot = 0.0; var d = 0
        while (d < subDim) { dot += qv(m * subDim + d).toDouble * model.cw(m)(j)(d); d += 1 }
        dot
      }
      var qn2 = 0.0
      var m = 0
      while (m < nSub) {
        var sn = 0.0; var d = 0
        while (d < subDim) { val x = qv(m * subDim + d).toDouble; sn += x * x; d += 1 }
        qn2 += sn; m += 1
      }
      (qv, qn, AdcQuery(qid, tbl, math.sqrt(qn2)))
    }
  }

  /**
   * Encode `corpus` once against a trained [[PqModel]] → `(id: long, codes:
   * binary)` at nSub BYTES per row (vs 4·dim — 32× at dim=64, nSub=8). THE
   * petabyte-scale PQ layout: persist this frame, then run every query batch
   * through [[pqSearchEncoded]] scanning only codes — the encode cost is paid
   * once, not per search ([[topKPq]] fuses encode+search for single-job
   * simplicity and re-encodes per call). Null / zero-norm / wrong-dimension
   * corpus rows are dropped here (they can never score); zero-reconstruction
   * rows are kept and dropped at search, exactly where the fused path drops
   * them.
   */
  def pqEncode(corpus: DataFrame, cId: String, cVec: String, model: PqModel): DataFrame = {
    import org.apache.spark.sql.types._
    requireIntegralId(corpus, cId, "corpus")
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("codes", BinaryType)))
    scanRows(corpus.select(col(cId).cast("long"), col(cVec)), outSchema, model) { (m0, r) =>
      vecWithNorm(r).iterator.collect { case (cid, cv, _) if cv.length == m0.dim =>
        Row(cid, pqEncodeVec(cv, m0).map(_.toByte))
      }
    }
  }

  /**
   * ADC top-k over a pre-encoded corpus (see [[pqEncode]]): queries collect
   * to ADC tables (guarded), ONE scan of the `(id, codes)` frame scores each
   * row in O(nSub) table lookups — no vector column is read at all. With the
   * same model, bit-identical to [[topKPq]] (gate `ann_pq_encoded` pins hash
   * parity against the fused path's oracle). Codes are unsigned bytes
   * (`& 0xFF`), so any ksub ≤ 256 round-trips.
   *
   * @return (query_id, neighbor_id, adc_cosine rounded to 4)
   */
  def pqSearchEncoded(
      encoded: DataFrame, eId: String, eCodes: String,
      queries: DataFrame, qId: String, qVec: String,
      model: PqModel, k: Int, excludeSelf: Boolean = false): DataFrame = {
    val scored = broadcastQueryScan(queries, qId, qVec, encoded, eId, "encoded corpus",
        col(eCodes)) {
      (model, pqAdcTables(queries, qId, qVec, model).map(_._3))
    } { case ((m0, qs), r) =>
      decodeCodes(r.getAs[Array[Byte]](1), m0.nSub).iterator.flatMap(codes =>
        adcHits(qs, r.getLong(0), codes, m0.reconNorm2(codes), excludeSelf))
    }
    topKPerQuery(scored, k, rounded("adc_cosine"))
  }

  /**
   * IVF-PQ combined ANN — the production large-scale layout (FAISS's
   * IVFADC, Jégou et al. 2011 §V): the [[topKIvf]] coarse quantizer prunes
   * the corpus to each query's nProbe inverted lists, and [[topKPq]]'s ADC
   * tables score the survivors in O(nSub) lookups each — candidate count
   * AND per-candidate cost both collapse, which is what a 10⁹-vector corpus
   * needs. Codes here quantize the FULL vector (not the IVF residual — the
   * residual trick improves recall but breaks the shared-codebook oracle
   * mirror; documented trade).
   *
   * Determinism/eligibility contracts are the intersection of [[topKIvf]]
   * and [[topKPq]] (both mirrored in `Oracles.annIvfPqSql`; `pqIters` trains
   * the sub-codebooks like [[pqTrainModel]], independent of the coarse
   * quantizer's `nIters`): id-seeded
   * Lloyd centroids, (cosine desc, index asc) assignment, per-subspace
   * seeded codebooks, fixed-order folds, zero-reconstruction rows dropped.
   * Plan shape: centroids + codebooks broadcast with the bucketed query
   * ADC tables, ONE shuffle-free corpus scan.
   *
   * @return (query_id, neighbor_id, adc_cosine rounded to 4)
   */
  def topKIvfPq(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nList: Int = 16, nProbe: Int = 4, nIters: Int = 0,
      nSub: Int = 8, ksub: Int = 16, pqIters: Int = 0, excludeSelf: Boolean = false): DataFrame = {
    require(nList > 0 && nProbe > 0 && nProbe <= nList,
      s"need 0 < nProbe <= nList, got nList=$nList nProbe=$nProbe")
    require(nIters >= 0, s"nIters must be >= 0, got $nIters")
    require(nSub > 0, s"nSub must be positive, got $nSub")
    require(ksub > 0 && ksub <= 256, s"need 0 < ksub <= 256, got $ksub")
    require(pqIters >= 0, s"pqIters must be >= 0, got $pqIters")
    val scored = broadcastQueryScan(queries, qId, qVec, corpus, cId, "corpus", col(cVec)) {
      val slim = corpus.select(col(cId).cast("long"), col(cVec))
      // one id-ranked collect seeds both quantizers
      val (cents, pool) = trainCentroids(slim, cId, nList, nIters, poolSize = ksub)
      val model = trainCodebooks(slim, pool.take(ksub).flatten.map(_._2.map(_.toDouble)),
        nSub, pqIters)
      val probes = pqAdcTables(queries, qId, qVec, model).flatMap { case (qv, qn, q) =>
        nearestLists(cents, qv, qn, nProbe).map(_ -> q)
      }
      (cents, model, grouped(probes))
    } { case ((cents, m0, byList), r) =>
      vecWithNorm(r) match {
        case Some((cid, cv, cSqrt)) if cv.length == m0.dim =>
          byList.get(ivfNearest(cents, cv, cSqrt)) match {
            case None => Iterator.empty
            case Some(qs) =>
              val codes = pqEncodeVec(cv, m0)
              adcHits(qs, cid, codes, m0.reconNorm2(codes), excludeSelf)
          }
        case _ => Iterator.empty
      }
    }
    topKPerQuery(scored, k, rounded("adc_cosine"))
  }

  /**
   * Two-stage IVF-PQ search — IVFADC with exact refinement (FAISS's
   * `IndexRefineFlat` over an IVFPQ base): [[topKIvfPq]] prunes to each
   * query's nProbe coarse lists and ADC-scores the survivors from codes
   * alone, keeping a `shortlist`-deep candidate list per query; each
   * candidate is then re-scored EXACTLY against the raw float vectors and
   * cut to the final top-k. The production recall-repair layout for
   * compressed corpora: stage 2 touches `nQueries · shortlist` float
   * vectors, never the corpus.
   *
   * Plan shape at 100 TB: stage 1 is [[topKIvfPq]]'s single shuffle-free
   * corpus scan; the tiny shortlist joins the query vectors small×small,
   * then broadcasts into ONE corpus scan fetching the shortlisted floats —
   * exact scoring runs inside whole-stage codegen ([[cosineSim]]). The only
   * window is over nQueries·shortlist rows.
   *
   * Determinism/oracle contract: the stage-1 shortlist is cut on the
   * UNROUNDED ADC cosine with neighbor-id ties (bit-identical across
   * engines, so the shortlist SET matches `Oracles.annIvfPqRerankSql`);
   * exact scores use the [[graft.functions.CosineSimExpr]] d-ascending fold.
   *
   * @param shortlist ADC candidates per query (≥ k); FAISS's `k_factor·k`
   * @return (query_id, neighbor_id, cosine rounded to 4) — exact scores
   */
  def topKIvfPqRerank(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, shortlist: Int, nList: Int = 16, nProbe: Int = 4, nIters: Int = 0,
      nSub: Int = 8, ksub: Int = 16, pqIters: Int = 0, excludeSelf: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val sl = topKIvfPq(queries, qId, qVec, corpus, cId, cVec, shortlist,
        nList, nProbe, nIters, nSub, ksub, pqIters, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(sl, queries, qId, qVec, corpus, cId, cVec, k)
  }

  /**
   * MMR diversified top-k (Carbonell & Goldstein 1998, maximal marginal
   * relevance): greedily select k results per query trading relevance
   * against redundancy — pick argmax of
   * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` at each step (rank 1 is
   * pure relevance). The curation shape for diverse exemplar/few-shot
   * selection, where plain top-k returns k near-copies of the same hit.
   *
   * Plan shape at 100 TB: stage 1 is [[broadcastCosine]]'s single corpus
   * scan cut to a `shortlist`-deep candidate list per query (the [[topK]]
   * window); the tiny shortlist broadcasts into ONE more corpus scan that
   * fetches candidate vectors, then ONE exchange groups each query's
   * `shortlist` candidates (ids + vectors — nQueries·shortlist·dim floats,
   * corpus-size-independent) and the greedy selection runs per query inside
   * a deterministic kernel. The O(k·shortlist) quadratic step never touches
   * the corpus.
   *
   * Determinism/oracle contract: the shortlist is cut on the UNROUNDED
   * cosine with neighbor-id ties; relevance and candidate-candidate
   * similarities use the same d-ascending Double fold as [[cosineUdf]] /
   * the oracle's `list_sum(list_transform(...))`; the MMR score is one
   * multiply-subtract on those folds, and ties break by neighbor id — all
   * bit-identical across engines (`Oracles.annMmrSql` unrolls the same k
   * greedy steps in SQL).
   *
   * @param shortlist candidate pool per query (≥ k)
   * @param lambda    relevance weight λ ∈ [0, 1] (0.5 = balanced)
   * @return (query_id, neighbor_id, mmr_score rounded to 4, rank 1..k) —
   *         rank-1 score is the plain cosine, later ranks the MMR objective
   */
  def topKMmr(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, shortlist: Int, lambda: Double = 0.5, excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val sl = topKPerQuery(
      broadcastCosine(corpus, cId, cVec, queries, qId, qVec, excludeSelf = excludeSelf),
      shortlist, col("__cos"))
    val c = corpus.select(col(cId).cast("long").as("neighbor_id"), col(cVec).as("__cv"))
    val cand = c.join(broadcast(sl), Seq("neighbor_id"))
    val sel = udf { (cands: Seq[org.apache.spark.sql.Row]) =>
      mmrSelect(cands.map { r =>
        (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray)
      }.toArray, k, lambda)
    }
    cand.groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("__cos"), col("__cv"))).as("__cands"))
      .select(col("query_id"), explode(sel(col("__cands"))).as("__s"))
      .select(col("query_id"), col("__s._1").as("neighbor_id"),
        round(col("__s._2"), 4).as("mmr_score"), col("__s._3").cast("long").as("rank"))
  }

  /**
   * Two-stage Matryoshka (MRL) search — shortlist on the `prefixDim`-dim
   * vector PREFIX, exact re-rank on the full vectors: the retrieval pattern
   * MRL-trained embeddings are built for (Kusupati et al. 2022 §4 adaptive
   * retrieval). Cosine is scale-invariant, so the prefix shortlist ranks on
   * the raw sliced floats — no renormalization pass, and the stage-1 scan
   * reads prefixDim/dim of the vector bytes (with a column-pruned parquet
   * layout, only that prefix). The exact stage touches nQueries·shortlist
   * full vectors via the shared [[exactRerank]] tail.
   *
   * Determinism/oracle contract: shortlist cut on the UNROUNDED prefix
   * cosine with neighbor-id ties (bit-identical across engines — the same
   * fold over the same sliced floats); exact scores = the [[cosineSim]]
   * fold. Mirrored in `Oracles.annMrlRerankSql`.
   *
   * @param prefixDim prefix length for stage 1 (the MRL granularity in use)
   * @param shortlist candidates per query (≥ k); FAISS's `k_factor·k`
   * @return (query_id, neighbor_id, cosine rounded to 4) — exact scores
   */
  def topKMrlRerank(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, shortlist: Int, prefixDim: Int, excludeSelf: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(prefixDim > 0, s"prefixDim must be positive, got $prefixDim")
    val qPre = queries.select(col(qId), slice(col(qVec), 1, prefixDim).as(qVec))
    val cPre = corpus.select(col(cId), slice(col(cVec), 1, prefixDim).as(cVec))
    val sl = topK(qPre, qId, qVec, cPre, cId, cVec, shortlist, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(sl, queries, qId, qVec, corpus, cId, cVec, k)
  }

  /**
   * Shared greedy MMR selection over an in-memory candidate set
   * ([[topKMmr]] per query, [[Dedup.clusterExemplars]] per cluster): sort by
   * (rel desc, id asc), then k greedy steps — rank 1 is pure relevance,
   * later ranks maximize `λ·rel − (1−λ)·max(sim to picked)` with ties to the
   * smaller id. Candidate-candidate cosine is the d-ascending Double fold
   * (bit-identical to the oracle's `list_sum(list_transform(...))`).
   */
  private[graft] def mmrSelect(
      cands: Array[(Long, Double, Array[Float])], k: Int,
      lambda: Double): Seq[(Long, Double, Int)] = {
    val cs = cands.sortBy { case (nid, rel, _) => (-rel, nid) }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
      val n = math.min(a.length, b.length)
      while (d < n) {
        dot += a(d).toDouble * b(d).toDouble
        na += a(d).toDouble * a(d).toDouble
        nb += b(d).toDouble * b(d).toDouble
        d += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val used = new Array[Boolean](cs.length)
    var rank = 1
    while (rank <= math.min(k, cs.length)) {
      var bestI = -1; var bestScore = 0.0
      var i = 0
      while (i < cs.length) {
        if (!used(i)) {
          val (nid, rel, v) = cs(i)
          val score =
            if (rank == 1) rel
            else {
              var maxSim = Double.NegativeInfinity
              var j = 0
              while (j < pickedVecs.length) {
                val s = cos(v, pickedVecs(j)); if (s > maxSim) maxSim = s; j += 1
              }
              lambda * rel - (1.0 - lambda) * maxSim
            }
          // strict > plus the explicit id tie-break keeps the smallest-id
          // argmax — the oracle's (score DESC, nid ASC) cut
          if (bestI < 0 || score > bestScore ||
              (score == bestScore && nid < cs(bestI)._1)) {
            bestI = i; bestScore = score
          }
        }
        i += 1
      }
      used(bestI) = true
      picked += ((cs(bestI)._1, bestScore, rank))
      pickedVecs += cs(bestI)._3
      rank += 1
    }
    picked.toSeq
  }

  /** Shared exact-refinement tail for the two-stage searches
    * ([[topKPqRerank]], [[topKIvfPqRerank]]): join the (query_id,
    * neighbor_id) shortlist back to both float-vector sides, score with the
    * codegen'd [[cosineSim]] fold, cut to top-k by (cosine desc, id asc). */
  private def exactRerank(
      shortlist: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).cast("long").as("query_id"), col(qVec).as("__qv"))
    val c = corpus.select(col(cId).cast("long").as("neighbor_id"), col(cVec).as("__cv"))
    val pairs = shortlist.join(q, Seq("query_id"))
    topKPerQuery(c.join(broadcast(pairs), Seq("neighbor_id"))
      .withColumn("__cos", cosineSim(col("__qv"), col("__cv")))
      .filter(col("__cos").isNotNull), k, rounded("cosine"))
  }

  /**
   * Scalar-quantization (SQ) ANN — the third compression point beside raw
   * floats and PQ: brute-force cosine top-k over the int8-quantized corpus
   * ([[Embeddings.quantizeInt8]], 4× smaller than float32). The per-vector
   * scale CANCELS in cosine — cos(q, scale·c) = cos(q, c) — so scoring runs
   * entirely on the integer code vectors: one corpus scan, no shuffle, no
   * dequantization pass. Approximate only through the quantization rounding
   * (≲ 0.4% per element at int8); exact ranking is [[topK]]. All-zero code
   * rows (null / zero-norm originals) have no angle and are dropped — the
   * shared eligibility contract. Deterministic: integer codes + fixed-order
   * Double folds, mirrored by the `ann_sq` oracle.
   *
   * @return (query_id, neighbor_id, sq_cosine rounded to 4)
   */
  def topKSq(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, excludeSelf: Boolean = false): DataFrame = {
    val quantized = Embeddings.quantizeInt8(corpus, cId, cVec)
    sqSearchEncoded(quantized, cId, "q", queries, qId, qVec, k, excludeSelf)
  }

  /**
   * Cosine top-k over a pre-quantized `(id, codes: array<int>)` corpus (the
   * persisted form of [[topKSq]] — [[Embeddings.quantizeInt8]] output, the
   * scale column unused since cosine is scale-invariant): queries collect
   * and broadcast (guarded), ONE scan of the code frame scores each row with
   * an integer-weighted fold.
   */
  def sqSearchEncoded(
      encoded: DataFrame, eId: String, eCodes: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, excludeSelf: Boolean = false): DataFrame = {
    val scored = broadcastQueryScan(queries, qId, qVec, encoded, eId, "encoded corpus",
        col(eCodes)) {
      queryVecs(queries, qId, qVec)
    } { (qs, r) =>
      val cid = r.getLong(0)
      val q = r.getSeq[Int](1).toArray
      var cn2 = 0.0; var i = 0
      while (i < q.length) { cn2 += q(i).toDouble * q(i).toDouble; i += 1 }
      if (cn2 == 0.0) Iterator.empty
      else {
        val cSqrt = math.sqrt(cn2)
        qs.iterator.flatMap { case (qid, qv, qSqrt) =>
          if (qv.length != q.length || (excludeSelf && qid == cid)) None
          else {
            var dot = 0.0; var d = 0
            while (d < q.length) { dot += qv(d).toDouble * q(d).toDouble; d += 1 }
            Some(Row(qid, cid, dot / (qSqrt * cSqrt)))
          }
        }
      }
    }
    topKPerQuery(scored, k, rounded("sq_cosine"))
  }

  /** Trained coarse quantizer: the IVF centroids with their norms. Small
    * (nList·dim doubles); rides closures/broadcasts whole. Build with
    * [[ivfTrainModel]]; consume with [[ivfPqEncode]]/[[ivfPqSearchEncoded]]. */
  final case class IvfModel(cents: Array[(Array[Double], Double)]) extends Serializable

  /** Train an [[IvfModel]]: centroids seeded from the `nList` smallest-id
    * eligible vectors (filter AFTER the id-ranked LIMIT — the shared seeding
    * contract), refined by `nIters` integer-quantized Lloyd passes — EXACTLY
    * [[topKIvfPq]]'s coarse quantizer, factored out so the persisted-index
    * paths train once and reuse. */
  def ivfTrainModel(
      corpus: DataFrame, cId: String, cVec: String,
      nList: Int = 16, nIters: Int = 0): IvfModel = {
    require(nList > 0, s"nList must be positive, got $nList")
    require(nIters >= 0, s"nIters must be >= 0, got $nIters")
    requireIntegralId(corpus, cId, "corpus")
    IvfModel(trainCentroids(corpus.select(col(cId).cast("long"), col(cVec)), cId,
      nList, nIters)._1)
  }

  /**
   * INCREMENTAL IVF assignment — route a NEW batch of vectors onto an
   * already-trained coarse quantizer WITHOUT retraining: the production
   * posture for a growing corpus (train the codebook once on yesterday's
   * data, assign every new crawl increment forever after; retrain only when
   * [[ivfReport]] cohesion degrades). Same deterministic rule as
   * [[kmeansAssign]]'s final pass — (cosine desc, index asc) nearest
   * centroid — so assigning the training slice itself reproduces the fused
   * path bit-for-bit.
   *
   * Scale shape: the model broadcasts (nList·dim doubles) into one
   * STATELESS PROJECTION over the batch — the probe is a Catalyst
   * expression ([[graft.functions.IvfAssignExpr]], the AsOfProbeExpr
   * treatment, r15), so the scan never exits Tungsten through an RDD and
   * the batch never shuffles; the trained corpus is never touched. Being a
   * plain select/filter, the SAME operator runs unchanged on a STREAMING
   * frame — [[graft.streaming.StreamIvfAssign]] is this method applied per
   * micro-batch. Null / zero-norm rows are dropped (the shared eligibility
   * contract).
   *
   * @return (bId, list, cos_micro) — cos_micro = floor(cos·10⁶) of the
   *         vector against its winning centroid.
   */
  def ivfAssign(
      batch: DataFrame, bId: String, bVec: String, ivf: IvfModel): DataFrame = {
    requireIntegralId(batch, bId, "batch")
    // The probe expression reads elements as raw floats (ArrayData.getFloat)
    // for speed — on an array<double> column that would silently produce
    // garbage assignments (the old RDD path at least threw). Enforce the
    // repo-wide array<float> embedding contract at PLAN time instead
    // (ADVICE r15).
    batch.schema(bVec).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => ()
      case dt => throw new IllegalArgumentException(
        s"ivfAssign: batch column $bVec must be array<float>, got ${dt.simpleString}")
    }
    val spark = batch.sparkSession
    val bc = spark.sparkContext.broadcast(ivf.cents)
    val probe = org.apache.spark.sql.GraftBridge.column(
      graft.functions.IvfAssignExpr(
        org.apache.spark.sql.GraftBridge.expression(col(bVec)), bc))
    // explode(array(probe)) pins the probe in a Generate node — a projection
    // barrier CollapseProject cannot cross — so the CodegenFallback kernel
    // evaluates ONCE per row even though two fields are extracted (the
    // AsOfJoin single-explode shape).
    batch.select(col(bId).cast("long").as(bId), explode(array(probe)).as("__a"))
      .filter(col("__a").isNotNull)
      .select(col(bId), col("__a.list").cast("long").as("list"),
        col("__a.cos_micro").as("cos_micro"))
  }

  /**
   * IVF RETRAIN-TRIGGER monitor — the "when to retrain" read the
   * [[ivfAssign]] scaladoc promises: per coarse list, the assignment-cosine
   * distribution of a NEW batch against the TRAIN slice, both routed onto
   * the SAME trained model. A healthy incremental corpus assigns new data
   * about as cohesively as the data the codebook was trained on; a list
   * whose batch mean drops well below its train mean (`delta_micro` ≪ 0) or
   * that inflates/empties (`n_batch` vs `n_train`) is the drift signal that
   * schedules retraining.
   *
   * Exact integer contract: per-member cosines are the floor(cos·10⁶) Longs
   * [[ivfAssign]] already emits; per-list means are integer `div` of exact
   * sums (micro-units), so every column is engine-bit-stable. Scale shape:
   * two stateless assignment projections (model broadcast, nothing
   * shuffles) and ONE |lists|-key aggregation per side joined full-outer on
   * the ≤ nList keys. Lists absent from a side report count 0 and a null
   * mean (delta null) rather than dropping the row.
   *
   * @return (list, n_train, train_mean_micro, n_batch, batch_mean_micro,
   *         delta_micro = batch_mean_micro − train_mean_micro)
   */
  def ivfDrift(
      train: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, ivf: IvfModel): DataFrame = {
    def stats(df: DataFrame, nCol: String, mCol: String): DataFrame =
      ivfAssign(df, idCol, vecCol, ivf)
        .groupBy(col("list"))
        .agg(count(lit(1)).as(nCol), sum(col("cos_micro")).as("__s"))
        .select(col("list"), col(nCol),
          expr(s"__s div $nCol").as(mCol))
    stats(train, "n_train", "train_mean_micro")
      .join(stats(batch, "n_batch", "batch_mean_micro"), Seq("list"), "full_outer")
      .select(col("list"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        col("train_mean_micro"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        col("batch_mean_micro"),
        (col("batch_mean_micro") - col("train_mean_micro")).as("delta_micro"))
  }

  /**
   * PQ CODEBOOK drift monitor — [[ivfDrift]]'s retrain-trigger read applied
   * to the product quantizer (r16, completing the retrain story for the
   * compressed index): per (subspace, codeword), the mean quantization error
   * of a NEW batch encoded on the SAME trained [[PqModel]] vs the slice the
   * codebooks were trained on. A healthy incremental corpus quantizes about
   * as tightly as its training data; a codeword whose batch mean error
   * inflates well above its train mean (`delta_errq` ≫ 0), or a subspace
   * whose codewords empty/flood (`n_batch` vs `n_train`), is the signal that
   * schedules PQ retraining — BEFORE ADC recall quietly degrades.
   *
   * Exact integer contract: codeword ASSIGNMENT is the encode path's own
   * rule (raw-double squared L2, (dist asc, j asc) ties — bit-identical to
   * [[ivfPqEncode]]); the REPORTED error is computed in integer MILLI-space,
   * `errq = Σ_d (round(x_d·10³) − round(c_d·10³))²` — sums of integer
   * products are engine-bit-stable regardless of fold order, and milli
   * granularity keeps corpus-scale Long sums far from overflow (micro²
   * would not). Per-key means are integer `div` of exact sums. Scale shape:
   * one scan per side fanning out nSub rows per vector, ONE ≤ nSub·ksub-key
   * aggregation per side (map-side partials), full-outer joined on the tiny
   * key set — nothing corpus-sized ever shuffles. Eligibility matches
   * [[ivfPqEncode]]: null / zero-norm / wrong-dimension rows are dropped.
   *
   * @return (sub, code, n_train, train_mean_errq, n_batch, batch_mean_errq,
   *         delta_errq = batch_mean_errq − train_mean_errq); error units are
   *         squared milli-deltas.
   */
  def pqDrift(
      train: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, pq: PqModel): DataFrame = {
    val spark = train.sparkSession
    val bc = spark.sparkContext.broadcast(pq)
    val dim = pq.dim
    def stats(df: DataFrame, nCol: String, mCol: String): DataFrame = {
      requireIntegralId(df, idCol, "pqDrift")
      import spark.implicits._
      val perSub = df.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { rows =>
        val m0 = bc.value
        rows.flatMap { r =>
          vecWithNorm(r) match {
            case Some((_, v, _)) if v.length == dim =>
              Iterator.tabulate(m0.nSub) { m =>
                val j = pqNearestSub(v, m, m0.subDim, m0.cw(m))
                var err = 0L
                var d = 0
                while (d < m0.subDim) {
                  val diff = math.floor(v(m * m0.subDim + d).toDouble * 1000.0 + 0.5).toLong -
                    math.floor(m0.cw(m)(j)(d) * 1000.0 + 0.5).toLong
                  err += diff * diff
                  d += 1
                }
                (m, j, err)
              }
            case _ => Iterator.empty
          }
        }
      }.toDF("sub", "code", "__e")
      perSub.groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).as(nCol), sum(col("__e")).as("__s"))
        .select(col("sub").cast("long").as("sub"), col("code").cast("long").as("code"),
          col(nCol), expr(s"__s div $nCol").as(mCol))
    }
    stats(train, "n_train", "train_mean_errq")
      .join(stats(batch, "n_batch", "batch_mean_errq"), Seq("sub", "code"), "full_outer")
      .select(col("sub"), col("code"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        col("train_mean_errq"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        col("batch_mean_errq"),
        (col("batch_mean_errq") - col("train_mean_errq")).as("delta_errq"))
  }

  /**
   * Encode `corpus` once against a trained coarse + product quantizer →
   * `(id: long, list: int, codes: binary)` — the PERSISTED IVFADC layout:
   * nSub bytes of codes plus one small int per row replace the full vector,
   * and [[ivfPqSearchEncoded]] serves every query batch from this frame
   * alone. Null / zero-norm / wrong-dimension rows are dropped here (the
   * [[topKIvfPq]] eligibility contract); zero-reconstruction rows are kept
   * and dropped at search, exactly where the fused path drops them.
   */
  def ivfPqEncode(
      corpus: DataFrame, cId: String, cVec: String,
      ivf: IvfModel, pq: PqModel): DataFrame = {
    import org.apache.spark.sql.types._
    requireIntegralId(corpus, cId, "corpus")
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("list", IntegerType),
      StructField("codes", BinaryType)))
    scanRows(corpus.select(col(cId).cast("long"), col(cVec)), outSchema, (ivf, pq)) {
      case ((iv, m0), r) =>
        vecWithNorm(r).iterator.collect { case (cid, cv, cSqrt) if cv.length == m0.dim =>
          Row(cid, ivfNearest(iv.cents, cv, cSqrt), pqEncodeVec(cv, m0).map(_.toByte))
        }
    }
  }

  /**
   * ADC top-k over a pre-encoded IVF-PQ corpus (see [[ivfPqEncode]]):
   * queries probe their nProbe nearest centroids and collect to ADC tables,
   * ONE scan of the `(id, list, codes)` frame scores only rows whose list is
   * probed — no vector column is read anywhere. With the same models,
   * bit-identical to the fused [[topKIvfPq]] (gate `ann_ivfpq_encoded` pins
   * hash parity against its oracle).
   *
   * @return (query_id, neighbor_id, adc_cosine rounded to 4)
   */
  def ivfPqSearchEncoded(
      encoded: DataFrame, eId: String, eList: String, eCodes: String,
      queries: DataFrame, qId: String, qVec: String,
      ivf: IvfModel, pq: PqModel, k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = false): DataFrame = {
    // nProbe may exceed the trained list count (null seeds shrink the seed
    // set — the shared seeding contract); probing clamps to every list,
    // exactly like the fused topKIvfPq
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val scored = broadcastQueryScan(queries, qId, qVec, encoded, eId, "encoded corpus",
        col(eList).cast("int"), col(eCodes)) {
      val probes = pqAdcTables(queries, qId, qVec, pq).flatMap { case (qv, qn, q) =>
        nearestLists(ivf.cents, qv, qn, nProbe).map(_ -> q)
      }
      (pq, grouped(probes))
    } { case ((m0, byList), r) =>
      if (r.isNullAt(2)) Iterator.empty
      else byList.get(r.getInt(1)) match {
        case None => Iterator.empty
        case Some(qs) =>
          decodeCodes(r.getAs[Array[Byte]](2), m0.nSub).iterator.flatMap(codes =>
            adcHits(qs, r.getLong(0), codes, m0.reconNorm2(codes), excludeSelf))
      }
    }
    topKPerQuery(scored, k, rounded("adc_cosine"))
  }

  /**
   * RESIDUAL IVF-PQ — the full Jégou et al. 2011 IVFADC: PQ codes quantize
   * each vector's RESIDUAL to its coarse centroid (r = v − c_list(v)) instead
   * of the full vector. The coarse quantizer absorbs the between-cluster
   * structure, so the whole codebook budget models within-cluster variation —
   * on clustered data this buys recall at the same nSub/ksub (the
   * PipelineOpsSpec property quantifies it against [[topKIvfPq]]'s
   * full-vector codes on the clustered fixture: recall@5 vs brute 68/80
   * residual vs 66/80 full-vector at nSub=4, ksub=4). Scoring reconstructs
   * implicitly: dot(q, c + recon(r)) = dot(q, c) + Σ_m tbl(m)(code_m), and
   * ‖c + recon‖² = ‖c‖² + 2·Σ_m ccDot(list)(m)(code_m) + Σ_m cn2(m)(code_m) —
   * all table lookups, so a corpus row still scores in O(nSub). The
   * cross-term tables (nList·nSub·ksub doubles) broadcast with the
   * codebooks and the queries' ADC tables.
   *
   * This variant is PROPERTY-gated, not oracle-hash-gated: mirroring
   * residual training in SQL would mean re-deriving the assignment chain
   * inside every training CTE — the honest gate here is the measured
   * recall-vs-full-vector property plus the shared determinism discipline
   * (id-seeded starts, integer-quantized Lloyd, fixed-order folds).
   * Same eligibility contract as [[topKIvfPq]].
   *
   * @return (query_id, neighbor_id, adc_cosine rounded to 4)
   */
  def topKIvfPqResidual(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nList: Int = 16, nProbe: Int = 4, nIters: Int = 0,
      nSub: Int = 8, ksub: Int = 16, pqIters: Int = 0, excludeSelf: Boolean = false): DataFrame = {
    require(nList > 0 && nProbe > 0 && nProbe <= nList,
      s"need 0 < nProbe <= nList, got nList=$nList nProbe=$nProbe")
    require(nIters >= 0 && pqIters >= 0, s"iteration counts must be >= 0")
    require(nSub > 0, s"nSub must be positive, got $nSub")
    require(ksub > 0 && ksub <= 256, s"need 0 < ksub <= 256, got $ksub")
    val scored = broadcastQueryScan(queries, qId, qVec, corpus, cId, "corpus", col(cVec)) {
      val slim = corpus.select(col(cId).cast("long"), col(cVec))
      val (cents, pool) = trainCentroids(slim, cId, nList, nIters, poolSize = ksub)
      val residOf: (Array[Float], Double) => Array[Double] =
        (v, norm) => residual(v, cents(ivfNearest(cents, v, norm))._1)
      val model = trainCodebooks(slim,
        pool.take(ksub).flatten.map { case (_, v, n) => residOf(v, n) }, nSub, pqIters,
        toVec = residOf)
      val dim = model.dim; val subDim = model.subDim
      // cross-term tables: ccDot(j)(m)(code) = dot(c_j,m, cw_m,code); cN2(j) = ‖c_j‖²
      val ccDot = Array.tabulate(cents.length, nSub, model.nCodes) { (j, m, code) =>
        val c = cents(j)._1
        if (c.length != dim) 0.0
        else {
          var s = 0.0; var d = 0
          while (d < subDim) { s += c(m * subDim + d) * model.cw(m)(code)(d); d += 1 }
          s
        }
      }
      val cN2 = cents.map { case (_, n) => n * n }
      // queries: residual-codebook ADC tables, starting each probed list's
      // dot from the raw dot(q, c_j)
      val probes = pqAdcTables(queries, qId, qVec, model).flatMap { case (qv, qn, q) =>
        nearestLists(cents, qv, qn, nProbe).map { j =>
          val c = cents(j)._1
          var qc = 0.0
          if (c.length == qv.length) {
            var d = 0
            while (d < qv.length) { qc += qv(d).toDouble * c(d); d += 1 }
          }
          j -> q.copy(qc = qc)
        }
      }
      (cents, model, grouped(probes), ccDot, cN2)
    } { case ((cents, m0, byList, cc, cn), r) =>
      vecWithNorm(r) match {
        case Some((cid, cv, cSqrt)) if cv.length == m0.dim =>
          val list = ivfNearest(cents, cv, cSqrt)
          byList.get(list) match {
            case None => Iterator.empty
            case Some(qs) =>
              val rv = residual(cv, cents(list)._1)
              val codes =
                Array.tabulate(m0.nSub)(m => pqNearestSubD(rv, m, m0.subDim, m0.cw(m)))
              var rn2 = cn(list)
              var m = 0
              while (m < m0.nSub) {
                rn2 += 2.0 * cc(list)(m)(codes(m)) + m0.cn2(m)(codes(m)); m += 1
              }
              adcHits(qs, cid, codes, rn2, excludeSelf)
          }
        case _ => Iterator.empty
      }
    }
    topKPerQuery(scored, k, rounded("adc_cosine"))
  }

  /** `v − c`, the residual a vector's PQ codes quantize on the residual path
    * (a centroid of another dimension cannot win assignment on a uniform-dim
    * corpus; such a vector keeps its raw cast). */
  private def residual(v: Array[Float], c: Array[Double]): Array[Double] =
    if (c.length != v.length) v.map(_.toDouble)
    else Array.tabulate(v.length)(i => v(i).toDouble - c(i))

  /** Quantization scale for Lloyd centroid sums: element contributions are
    * `floor(x·scale + 0.5)` Longs, so per-cluster sums are exact and
    * commutative — invariant to partitioning/reduction order, and mirrored
    * verbatim by the DuckDB oracle (the simjoin_tfidf idf technique). */
  private val IvfQuantScale = 1000000.0

  /** Cosine of `v` to each centroid, in index order (shared by assignment and
    * probing; mismatched dims score -inf so they never win a list). */
  private[operators] def ivfCentroidCos(
      cents: Array[(Array[Double], Double)], v: Array[Float], vNorm: Double): Array[Double] = {
    val out = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      val (cv, cn) = cents(j)
      if (cv.length != v.length) out(j) = Double.NegativeInfinity
      else {
        var dot = 0.0; var d = 0
        while (d < v.length) { dot += v(d).toDouble * cv(d); d += 1 }
        out(j) = dot / (vNorm * cn)
      }
      j += 1
    }
    out
  }

  private[operators] def ivfNearest(
      cents: Array[(Array[Double], Double)], v: Array[Float], vNorm: Double): Int =
    argmax(ivfCentroidCos(cents, v, vNorm))

  /** Index of the largest value; ties keep the smaller index (strict > only
    * replaces) — the (cosine desc, index asc) assignment rule. */
  private[operators] def argmax(xs: Array[Double]): Int = {
    var best = 0; var j = 1
    while (j < xs.length) { if (xs(j) > xs(best)) best = j; j += 1 }
    best
  }

  /** The `nProbe` lists a query probes: its nearest centroids by (cosine
    * desc, index asc), all of them when fewer than nProbe exist. */
  private def nearestLists(
      cents: Array[(Array[Double], Double)], v: Array[Float], vNorm: Double,
      nProbe: Int): Array[Int] =
    ivfCentroidCos(cents, v, vNorm).zipWithIndex
      .sortBy { case (cos, j) => (-cos, j) }.take(nProbe).map(_._2)

  /** key → values, each key's values in input order. */
  private def grouped[K, V: ClassTag](kvs: Array[(K, V)]): Map[K, Array[V]] =
    kvs.groupBy(_._1).map { case (key, xs) => key -> xs.map(_._2) }

  /**
   * THE id-ranked seed pool every quantizer starts from: the `n`
   * smallest-id rows of `slim` (= (id as Long, vec)), each read by
   * [[vecWithNorm]] AFTER the LIMIT — a null or zero vector among the
   * smallest ids shrinks the seed set, it does not pull in the next id. This
   * is the seeding contract the DuckDB oracles mirror.
   */
  private def seedPool(slim: DataFrame, idCol: String, n: Int): Array[Option[Vec]] =
    slim.orderBy(col(idCol).cast("long")).limit(n).collect().map(vecWithNorm)

  /**
   * THE coarse quantizer ([[topKIvf]], [[kmeansAssign]], [[ivfTrainModel]],
   * the IVF-PQ paths, [[Dedup.semDedup]], [[Dedup.clusterExemplars]]): the
   * eligible vectors among the `nList` smallest ids of [[seedPool]] (index =
   * id rank; float→double casts are exact), refined by `nIters`
   * [[lloydRefine]] passes.
   *
   * @param poolSize collect a pool of max(nList, poolSize) rows, so PQ
   *        codebooks seed from the same collect
   * @return the centroids with their norms, and the pool
   */
  private[operators] def trainCentroids(
      slim: DataFrame, idCol: String, nList: Int, nIters: Int,
      side: String = "corpus", poolSize: Int = 0)
      : (Array[(Array[Double], Double)], Array[Option[Vec]]) = {
    val pool = seedPool(slim, idCol, math.max(nList, poolSize))
    val seeds = pool.take(nList).flatten.map { case (_, v, n) => (v.map(_.toDouble), n) }
    require(seeds.nonEmpty, s"$side has no non-null non-zero vectors to seed centroids")
    (lloydRefine(slim, seeds, nIters), pool)
  }

  /** `nIters` deterministic Lloyd passes over `slim` (= (id: Long, vec:
    * Array[Float])): assign each non-null non-zero vector to its nearest
    * centroid, sum integer-quantized elements per (cluster, dim), new centroid
    * = quantized mean. One corpus scan per iteration; the driver collects only
    * partitions × nList × dim Longs. Empty/zero-norm clusters keep their
    * previous centroid. */
  private def lloydRefine(
      slim: DataFrame, seeds: Array[(Array[Double], Double)],
      nIters: Int): Array[(Array[Double], Double)] = {
    var cents = seeds
    val sc = slim.sparkSession.sparkContext
    var it = 0
    while (it < nIters) {
      val bcC = sc.broadcast(cents)
      val partials = slim.rdd.mapPartitions { rows =>
        val cs = bcC.value
        val dim = cs(0)._1.length
        val sums = Array.fill(cs.length)(new Array[Long](dim))
        val cnts = new Array[Long](cs.length)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val v = r.getSeq[Float](1).toArray
            var n = 0.0; var i = 0
            while (i < v.length) { n += v(i).toDouble * v(i).toDouble; i += 1 }
            if (n > 0.0) {
              if (v.length != dim) throw new IllegalArgumentException(
                s"Lloyd refinement (nIters > 0) requires uniform vector dimensions: " +
                  s"got ${v.length} vs centroid dim $dim")
              val j = ivfNearest(cs, v, math.sqrt(n))
              val s = sums(j); var d = 0
              while (d < dim) {
                s(d) += math.floor(v(d).toDouble * IvfQuantScale + 0.5).toLong; d += 1
              }
              cnts(j) += 1L
            }
          }
        }
        Iterator.range(0, cs.length).map(j => (j, sums(j), cnts(j)))
      }.collect()
      val nL = cents.length
      val dim = cents(0)._1.length
      val sumAll = Array.fill(nL)(new Array[Long](dim))
      val cntAll = new Array[Long](nL)
      partials.foreach { case (j, s, c) =>
        val t = sumAll(j); var d = 0
        while (d < dim) { t(d) += s(d); d += 1 }
        cntAll(j) += c
      }
      cents = Array.tabulate(nL) { j =>
        if (cntAll(j) == 0L) cents(j)
        else {
          val nv = new Array[Double](dim); var d = 0
          while (d < dim) { nv(d) = sumAll(j)(d).toDouble / (IvfQuantScale * cntAll(j)); d += 1 }
          var n2 = 0.0; var i = 0
          while (i < dim) { n2 += nv(i) * nv(i); i += 1 }
          if (n2 == 0.0) cents(j) else (nv, math.sqrt(n2))
        }
      }
      bcC.unpersist(false)
      it += 1
    }
    cents
  }

  /**
   * String similarity search: top-k most-similar corpus strings per query string
   * (trigram cosine, = the reference's join_sim semantics with the query side as
   * `left`). Output: (query_id, match_id, sim).
   */
  def topKStrings(
      queries: DataFrame, qId: String, qKey: String,
      corpus: DataFrame, cId: String, cKey: String,
      k: Int, normalization: String = "l2"): DataFrame =
    SimJoin.keyedPairs(
      queries, qId, qKey, corpus, cId, cKey,
      SimJoinOptions(topN = k, normalization = normalization, broadcastSide = "left",
        strategy = "direct"),
      outLeft = "query_id", outRight = "match_id", outSim = "sim")
}
