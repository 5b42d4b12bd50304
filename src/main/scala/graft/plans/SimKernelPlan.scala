package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Trigrams
import graft.operators.{SimJoinOptions, SimKernelCore}

/**
 * The similarity kernel as a FIRST-CLASS PLANNER OPERATOR — the full custom-
 * operator extension path (logical node → strategy → physical node), the one
 * Catalyst surface the engine's codegen'd expressions and optimizer rule
 * don't cover:
 *
 *  - [[SimKernelJoin]]: a resolved binary `LogicalPlan` node whose children
 *    are the slim `(id LONG, key STRING)` projections. Catalyst treats it
 *    like any operator — it composes under Projects/Filters and the
 *    optimizer can still rewrite the children (e.g. push the gate's partkey
 *    filter into the scan).
 *  - [[SimKernelStrategy]]: a `SparkStrategy` planning the node into
 *    [[SimKernelExec]] via `planLater` on both children. Injectable through
 *    `SparkSessionExtensions.injectPlannerStrategy` ([[graft.GraftExtensions]])
 *    or per-session via `spark.experimental.extraStrategies` (what
 *    [[SimKernelPlan.keyedPairs]] does, idempotently).
 *  - [[SimKernelExec]]: the physical node — tokenizes the right child
 *    DISTRIBUTED and collects only compact token arrays, grouped by token
 *    set per partition (row count plus ≤ topN smallest ids), broadcasts the
 *    primitive inverted index, and streams the left child's partitions
 *    through the dense-accumulator core ([[SimKernelCore]]). It is the one
 *    kernel execution path: [[graft.operators.SimKernel.keyedPairs]] and
 *    strategy="auto" both plan it.
 *
 * Output attributes are constructor parameters (not freshly minted per
 * instantiation), so optimizer copies of the node keep stable expression ids
 * — the standard custom-node correctness detail.
 */
case class SimKernelJoin(
    left: LogicalPlan, right: LogicalPlan,
    topN: Int, l2: Boolean, maxTokenFrequency: Long,
    output: Seq[Attribute]) extends BinaryNode {
  // the node GENERATES row/col/sim (they reference no child attribute) —
  // without this the analyzer reports them missing from the children
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // ...and it CONSUMES both children positionally (id, key): with no
  // expression referencing them, ColumnPruning would otherwise project the
  // children down to zero columns and the kernel would scan empty rows
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SimKernelJoin =
    copy(left = newLeft, right = newRight)
}

object SimKernelJoin {
  def create(left: LogicalPlan, right: LogicalPlan, opts: SimJoinOptions): SimKernelJoin =
    SimKernelJoin(left, right, opts.topN, opts.normalization == "l2",
      opts.maxTokenFrequency,
      Seq(AttributeReference("row", LongType, nullable = false)(),
        AttributeReference("col", LongType, nullable = false)(),
        AttributeReference("sim", DoubleType, nullable = false)()))
}

object SimKernelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: SimKernelJoin =>
      SimKernelExec(planLater(j.left), planLater(j.right),
        j.topN, j.l2, j.maxTokenFrequency, j.output) :: Nil
    case _ => Nil
  }
}

case class SimKernelExec(
    left: SparkPlan, right: SparkPlan,
    topN: Int, l2: Boolean, maxTokenFrequency: Long,
    output: Seq[Attribute]) extends BinaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SimKernelExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    // distributed tokenize, grouped by token set per partition: the driver
    // collects at most topN ids per distinct set and partition, so repeated
    // right keys do not grow what it holds
    val keep = topN
    val groups: Array[SimKernelCore.Group] = right.execute().mapPartitions { it =>
      val rows = it.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else {
          val toks = Trigrams.tokenIds(r.getUTF8String(1).toString)
          if (toks.isEmpty) None else Some(SimKernelCore.Group(toks, 1L, Array(r.getLong(0))))
        }
      }
      SimKernelCore.mergeGroups(rows, keep).iterator
    }.collect()
    val bc = sparkContext.broadcast(SimKernelCore.buildIndex(groups, maxTokenFrequency))
    val (n, norm) = (topN, l2)
    left.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        LongType, LongType, DoubleType))
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
      val lTok = rows.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), Trigrams.tokenIds(r.getUTF8String(1).toString)))
      }
      SimKernelCore.scorePartition(lTok, bc.value, n, norm).map { case (lid, rid, sim) =>
        out.update(0, lid); out.update(1, rid); out.update(2, sim)
        proj(out).copy(): InternalRow
      }
    }
  }
}

object SimKernelPlan {

  /** Idempotently register the strategy in this session's planner. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(SimKernelStrategy))
      spark.experimental.extraStrategies = cur :+ SimKernelStrategy
  }

  /** The kernel similarity join ([[graft.operators.SimKernel.keyedPairs]]
    * delegates here): the kernel enters the query as a logical node the
    * planner turns into [[SimKernelExec]]. */
  def keyedPairs(
      left: DataFrame, leftId: String, leftKey: String,
      right: DataFrame, rightId: String, rightKey: String,
      opts: SimJoinOptions = SimJoinOptions(),
      outLeft: String = "row", outRight: String = "col", outSim: String = "sim"): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    val l = left.select(col(leftId).cast("long"), col(leftKey).cast("string"))
    val r = right.select(col(rightId).cast("long"), col(rightKey).cast("string"))
    val node = SimKernelJoin.create(
      l.queryExecution.analyzed, r.queryExecution.analyzed, opts)
    org.apache.spark.sql.GraftBridge.ofRows(spark, node)
      .select(col("row").as(outLeft), col("col").as(outRight), col("sim").as(outSim))
  }
}
