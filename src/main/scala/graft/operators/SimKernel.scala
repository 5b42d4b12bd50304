package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Trigrams

/**
 * The ungrouped right-side collect of the broadcast similarity kernel, which
 * measures [[SimKernelCore.buildIndex]] apart from the query. The kernel
 * itself is [[SimJoin.keyedPairs]] with strategy="kernel", planned by
 * [[graft.plans.SimKernelPlan.keyedPairs]]; its index reuse follows
 * [[graft.plans.SimKernelIndexMemo]].
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
}
