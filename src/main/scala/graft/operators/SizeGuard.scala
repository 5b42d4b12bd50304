package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * The one rule for a side that graft replicates: a frame may be collected to
 * the driver or broadcast only when it is small. This is the Spark form of
 * the reference's in-memory side (`threading_dimension` in polars_sim's
 * `dataframe/join.py`).
 *
 * Silent plan choices (the kernel dispatch, the broadcast-side rule, a
 * broadcast hint) ask [[fits]] and fall back to a shuffle plan. Operators
 * whose plan has no fallback call [[requireFits]] or [[requireBloomFits]],
 * which fail fast with a message that names the side, its size, the bound
 * and that operator's scalable alternative. Public operators always use the
 * constants below; `requireFits`' bound argument exists so tests can pass a
 * small one.
 */
private[graft] object SizeGuard {

  /** Bound on a side that is collected or broadcast, compared with its
    * Catalyst size estimate. One constant if a deployment retunes it. */
  val MaxBroadcastBytes: BigInt = BigInt(512L << 20)

  /** Bound on a Bloom filter built on the driver and broadcast whole. */
  val MaxBloomBytes: Long = 256L << 20

  /** Catalyst's plan-size estimate of `df`; reads plan statistics, runs no job. */
  def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** May `df` be replicated? Reads plan statistics only. */
  def fits(df: DataFrame): Boolean = estimate(df) <= MaxBroadcastBytes

  /**
   * Fail fast unless `df`, the `side` an operator collects or broadcasts,
   * fits `bound`. `alternative` completes the message with what to do
   * instead.
   *
   * Spark's size-only estimator passes a Filter's child size through
   * unchanged, so a slim filtered slice of a huge table carries the whole
   * table's estimate. With `exactBytes`, an estimate over the bound is
   * refined before rejecting: the function runs (one job, only on this
   * path) and the side is judged on the bytes it returns.
   */
  def requireFits(
      df: DataFrame, side: String, alternative: String,
      bound: BigInt = MaxBroadcastBytes,
      exactBytes: Option[DataFrame => Long] = None): Unit = {
    val est = estimate(df)
    if (est > bound) {
      val actual = exactBytes.map(f => BigInt(f(df)))
      require(actual.exists(_ <= bound),
        s"$side too large to collect or broadcast: " +
          actual.fold(s"its estimate of $est bytes exceeds the $bound-byte bound")(a =>
            s"$a bytes exceed the $bound-byte bound (filter-blind Catalyst estimate was $est)") +
          s" — $alternative")
    }
  }

  /**
   * Fail fast unless a Bloom filter over `nItems` items (`what` names them)
   * at false-positive rate `fpp` fits [[MaxBloomBytes]]. The optimal filter
   * has `-n·ln(p)/ln(2)²` bits, so its size is linear in `nItems`.
   */
  def requireBloomFits(nItems: Long, fpp: Double, what: String, alternative: String): Unit = {
    val bytes = math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2)) / 8.0).toLong
    require(bytes <= MaxBloomBytes,
      s"Bloom filter for $nItems $what at fpp=$fpp needs ~$bytes driver-side bytes, over " +
        s"the $MaxBloomBytes-byte bound — $alternative")
  }
}
