package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Trigrams
import graft.plans.SimKernelPlan

/**
 * Broadcast-kernel fast path for the similarity join — the Spark analogue of
 * the reference's `sparse_dot_topn` Gustavson kernel with a dense per-row
 * accumulator (/root/reference/src/cossim.rs:62-141): tokenize the (small)
 * RIGHT side once, broadcast its inverted index as primitive arrays, and scan
 * the partitioned LEFT side with a reusable dense accumulator per task. The
 * index holds one entry per distinct right trigram set (with that set's
 * smallest right ids: at most topN from each right partition), and each left
 * row keeps a bounded top-n heap, so repeated right keys cost one
 * accumulator slot, not one per row.
 *
 * Results are IDENTICAL to [[SimJoin.keyedPairs]] with strategy="direct"
 * (same score arithmetic `dot / (√nl·√nr)` in Double, same
 * (sim desc, right-id asc) tie-break — pinned by the parity spec). Use when
 * the right side fits comfortably in executor memory (≲ a few million rows);
 * [[SimJoin.keyedPairs]] with strategy="auto" takes this path whenever the
 * right side passes the broadcast guard, and the relational plans remain the
 * general-scale path.
 *
 * This mirrors the reference's "parallelize left, replicate right" driver
 * (ops 5+11 in SURVEY §2.1) with Spark partitions in place of rayon threads.
 * The kernel runs as the custom physical operator
 * [[graft.plans.SimKernelExec]]; its index/scan core lives in
 * [[SimKernelCore]].
 */
object SimKernel {

  /** Distributed tokenize of the right side, collected ungrouped as
    * (id, compact token-id array) pairs — never raw key strings. The kernel
    * itself collects per-partition groups instead ([[SimKernelCore.mergeGroups]]). */
  private[graft] def collectTokenized(
      right: DataFrame, rightId: String, rightKey: String): Array[(Long, Array[Int])] =
    right
      .select(col(rightId).cast("long"), col(rightKey).cast("string"))
      .rdd.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else {
          val toks = Trigrams.tokenIds(r.getString(1))
          if (toks.isEmpty) None else Some((r.getLong(0), toks))
        }
      }.collect()

  /**
   * Top-n similarity pairs, kernel edition. Output (outLeft: caller left-id
   * type passed through as Long cast, outRight: Long, outSim: Double) — same
   * contract as keyedPairs with Long ids. Planned as
   * [[graft.plans.SimKernelExec]] ([[graft.plans.SimKernelPlan.keyedPairs]]),
   * so building the DataFrame runs no job; the right side is collected when
   * the query runs.
   */
  def keyedPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      opts: SimJoinOptions = SimJoinOptions(),
      outLeft: String = "row", outRight: String = "col", outSim: String = "sim"): DataFrame =
    SimKernelPlan.keyedPairs(left, leftId, leftKey, right, rightId, rightKey, opts, outLeft, outRight, outSim)
}
