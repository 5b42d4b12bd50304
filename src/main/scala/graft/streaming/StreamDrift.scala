package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.CorpusStats.{binOf, microMass, psiMicro, requireBins}

/**
 * Streaming DRIFT monitor — the per-window face of
 * [[graft.operators.CorpusStats.psiDrift]]: each event-time window's value
 * distribution is scored against a STATIC baseline (the reference corpus /
 * last-known-good period), emitting one row per window with its population
 * stability index. The alerting read a live ingest pipeline puts on a
 * dashboard: a window whose psi crosses ~0.25e6 micro-units has shifted.
 *
 * Streaming-legal by construction: ONE stateful aggregation (the windowed
 * per-bin conditional counts — nBins fixed and small, so the whole
 * histogram is one `groupBy(window)` row), then a STATELESS projection
 * computes the smoothed masses and the quantized-log PSI against baseline
 * masses baked into the plan as literals (no join, no second aggregation —
 * the shapes Structured Streaming restricts). Apply `withWatermark`
 * upstream for bounded state in append mode. On a batch frame the same
 * plan computes the historical per-window drift series — that face is the
 * oracle-gated one (`stream_drift_batch`).
 *
 * Determinism contract: identical to [[graft.operators.CorpusStats.psiDrift]],
 * because it runs the same helpers — `CorpusStats.binOf` (clamped-edge bins)
 * and `requireBins`, `microMass` (add-one-smoothed BIGINT micro masses
 * `(c+1)·10⁶ div (n+nBins)`) and `psiMicro` (micro-nat quantized log ratio
 * of exact integers, same-sign product so `div` is floor-proof).
 *
 * @param baselineMicro the reference smoothed mass per bin (micro-units,
 *        all > 0 — e.g. `psiDrift(...).select("bin", "base_micro")` of the
 *        reference corpus, collected in bin order; nBins values)
 * @return one row per window: (win_start, n, psi_micro)
 */
object StreamDrift {

  def psiPerWindow(
      stream: DataFrame, valueCol: String, baselineMicro: Seq[Long],
      lo: Double, hi: Double, windowDur: String): DataFrame = {
    val nBins = baselineMicro.length
    requireBins(lo, hi, nBins)
    require(baselineMicro.forall(_ > 0L),
      "baseline masses must be positive (add-one smoothing guarantees this)")
    val counts = (0 until nBins).map(i =>
      sum(when(col("__bin") === i, 1L).otherwise(0L)).as(s"__c$i"))
    val agg = stream
      .where(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(EventTime.tsCol(stream).as("__ts"),
        binOf(col(valueCol).cast("double"), lo, hi, nBins).as("__bin"))
      .groupBy(window(col("__ts"), windowDur).as("__w"))
      .agg(count(lit(1)).as("n"), counts: _*)
    val terms: Seq[Column] = (0 until nBins).map(i =>
      psiMicro(microMass(col(s"__c$i"), col("n"), nBins), lit(baselineMicro(i))))
    agg.select(col("__w.start").as("win_start"), col("n"),
      terms.reduce(_ + _).as("psi_micro"))
  }
}
