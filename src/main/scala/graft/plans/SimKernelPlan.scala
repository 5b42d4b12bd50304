package graft.plans

import java.lang.ref.SoftReference

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, FileSourceScanExec, LocalTableScanExec,
  SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
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
 *    kernel execution path: [[SimKernelPlan.keyedPairs]] plans it, for
 *    `SimJoin.keyedPairs` with strategy "kernel" or an eligible "auto".
 *  - Index reuse: an execution may reuse the previous build's broadcast
 *    under the rule of [[SimKernelIndexMemo]]; the node's "index reused"
 *    and "index build time" SQL metrics show whether it paid for the build.
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

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "indexReused" -> SQLMetrics.createMetric(sparkContext, "index reused"),
    "indexBuildTime" -> SQLMetrics.createTimingMetric(sparkContext, "index build time"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SimKernelExec =
    copy(left = newLeft, right = newRight)

  /** Distributed tokenize, grouped by token set per partition: the driver
    * collects at most topN ids per distinct set and partition, so repeated
    * right keys do not grow what it holds. */
  private def broadcastIndex(): Broadcast[SimKernelCore.RightIndex] = {
    val t0 = System.nanoTime()
    val keep = topN
    val groups: Array[SimKernelCore.Group] = right.execute().mapPartitions { it =>
      val rows = it.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else {
          val toks = Trigrams.tokenIdsBytes(r.getUTF8String(1).getBytes)
          if (toks.isEmpty) None else Some(SimKernelCore.Group(toks, 1L, Array(r.getLong(0))))
        }
      }
      SimKernelCore.mergeGroups(rows, keep).iterator
    }.collect()
    val bc = sparkContext.broadcast(SimKernelCore.buildIndex(groups, maxTokenFrequency))
    longMetric("indexBuildTime") += (System.nanoTime() - t0) / 1000000L
    bc
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (bc, reused) = SimKernelIndexMemo.getOrBuild(sparkContext, this)(broadcastIndex())
    if (reused) longMetric("indexReused") += 1
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    val (n, norm) = (topN, l2)
    left.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        LongType, LongType, DoubleType))
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
      val lTok = rows.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getLong(0), Trigrams.tokenIdsBytes(r.getUTF8String(1).getBytes)))
      }
      SimKernelCore.scorePartition(lTok, bc.value, n, norm).map { case (lid, rid, sim) =>
        out.update(0, lid); out.update(1, rid); out.update(2, sim)
        proj(out).copy(): InternalRow
      }
    }
  }
}

/**
 * The one-entry memo of [[SimKernelExec]]'s broadcast index: an execution
 * whose right child would produce the same rows as the previous build's
 * reuses that broadcast instead of scanning, collecting and broadcasting the
 * right side again.
 *
 * The key is the `SparkContext`, `right.canonicalized` (Spark's same-result
 * form), `topN` and `maxTokenFrequency` (both shape the index; `l2` does
 * not), and, for every file-source leaf, its listed files as (path, length,
 * modification time). A right side takes part only when every leaf is a
 * `LocalTableScanExec` (its rows are in the canonical plan) or a
 * `FileSourceScanExec` over a `PartitioningAwareFileIndex`, and no
 * expression in it is nondeterministic or a subquery. Everything else (RDD,
 * DSv2 and cached scans, `rand()`) builds per execution.
 *
 * The canonical plan alone does not pin the rows: `InMemoryFileIndex`
 * equality compares root paths only, so re-reading an overwritten path
 * would otherwise hit a stale index. Each execution therefore re-stats the
 * files the scan listed; a file that is gone or whose length or
 * modification time changed bypasses the memo, so the scan runs and behaves
 * exactly as without it. Reuse is snapshot semantics of the listed files: a
 * file rewritten in place to the same length within the file system's
 * timestamp granularity is not detected, as it is not by Spark's own file
 * listing.
 *
 * Only the latest index is kept, behind a `SoftReference`, so the memo pins
 * at most the one index the previous execution already needed and the GC
 * may drop it under memory pressure; a replaced broadcast becomes
 * unreachable and `ContextCleaner` removes its blocks. Lookup and insert are
 * synchronized; the build runs outside the lock.
 */
private[graft] object SimKernelIndexMemo {

  private final case class Key(
      sc: SparkContext, right: SparkPlan, topN: Int, maxTokenFrequency: Long,
      files: Seq[(String, Long, Long)])

  private var latest = new SoftReference[(Key, Broadcast[SimKernelCore.RightIndex])](null)

  /** The broadcast for `exec` and whether it came from the memo. */
  def getOrBuild(sc: SparkContext, exec: SimKernelExec)(
      build: => Broadcast[SimKernelCore.RightIndex]): (Broadcast[SimKernelCore.RightIndex], Boolean) = {
    val key = keyOf(sc, exec)
    val hit = key.flatMap(k => synchronized(Option(latest.get)).collect { case (`k`, bc) => bc })
    hit match {
      case Some(bc) => (bc, true)
      case None =>
        val bc = build
        key.foreach(k => synchronized { latest = new SoftReference((k, bc)) })
        (bc, false)
    }
  }

  private def keyOf(sc: SparkContext, exec: SimKernelExec): Option[Key] = {
    val right = exec.right
    if (right.exists(_.expressions.exists(!_.deterministic)) || right.subqueriesAll.nonEmpty) None
    else {
      val perLeaf = right.collectLeaves().map {
        case _: LocalTableScanExec => Some(Nil)
        case s: FileSourceScanExec => s.relation.location match {
          case index: PartitioningAwareFileIndex => listedFiles(s, index)
          case _ => None
        }
        case _ => None
      }
      if (perLeaf.contains(None)) None
      else Some(Key(sc, right.canonicalized, exec.topN, exec.maxTokenFrequency,
        perLeaf.flatMap(_.get)))
    }
  }

  /** The scan's listed files, or None unless each is still on the file
    * system with its listed length and modification time. */
  private def listedFiles(
      scan: FileSourceScanExec, index: PartitioningAwareFileIndex): Option[Seq[(String, Long, Long)]] = {
    val conf = scan.relation.sparkSession.sessionState
      .newHadoopConfWithOptions(scan.relation.options)
    val listed = index.allFiles()
    val unchanged = try listed.forall { f =>
      val now = f.getPath.getFileSystem(conf).getFileStatus(f.getPath)
      now.getLen == f.getLen && now.getModificationTime == f.getModificationTime
    } catch { case _: java.io.IOException => false }
    if (unchanged) Some(listed.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
    else None
  }
}

object SimKernelPlan {

  /** Idempotently register the strategy in this session's planner. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(SimKernelStrategy))
      spark.experimental.extraStrategies = cur :+ SimKernelStrategy
  }

  /**
   * The kernel similarity join, the one entry of `SimJoin.keyedPairs`'
   * "kernel" strategy — the Spark analogue of the reference's
   * `sparse_dot_topn` kernel with a dense per-row accumulator (its
   * `src/cossim.rs:62-141`): replicate the tokenized right
   * side, scan the partitioned left side. The kernel enters the query as a
   * logical node the planner turns into [[SimKernelExec]], so building the
   * DataFrame runs no job. Results are identical to strategy="direct" (same
   * `dot / (√nl·√nr)` Double arithmetic, same (sim desc, right-id asc)
   * tie-break); ids come out as Long.
   */
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
