package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Point-in-interval (range) join, BUCKETED — the scale-safe form of
 * `SELECT * FROM points p JOIN intervals i ON p.t BETWEEN i.s AND i.e`.
 * OSS Spark has no range-join optimization: that predicate plans as a
 * BroadcastNestedLoopJoin (every point × every interval — quadratic work,
 * and only viable at all when one side broadcasts). Here each interval is
 * exploded into the fixed-width buckets it overlaps, each point hashes to
 * its single bucket, and a plain shuffled EQUI-join on (key..., bucket) +
 * the exact BETWEEN filter yields each containment pair exactly once — a
 * point lives in exactly one bucket, so no dedup pass is needed.
 *
 * `bucketWidth` is the scale knob: pick ≈ the typical interval length.
 * Interval explode cost = len/width + 1 rows per interval; the
 * `maxBucketsPerInterval` guard fails the job (with the offending span in
 * the message) rather than letting one open-ended interval fan out into
 * millions of rows. At 100 TB both sides shuffle once on (key, bucket) —
 * same exchange count as any equi-join — and a hot bucket is AQE's
 * skew-join problem, not a nested loop.
 *
 * Column contract: the two frames' column names must be disjoint apart from
 * `keyCols` (rename first otherwise); output = points.* ++ intervals.*
 * (minus the interval side's key copies).
 */
object IntervalJoin {

  /** Bucket id of `c` = the bucket's START value, `v - pmod(v, width)` — pure
    * Long arithmetic, so bucketing is EXACT at any magnitude (a
    * floor(double/width) bucket id silently distorts boundaries above 2⁵³,
    * i.e. epoch-nanos scale). Integral columns go straight to Long; fractional
    * ones floor first (floor(-3.5) = −4 keeps the mapping monotone), which
    * confines double rounding to inputs that were already doubles. */
  private def bucketStart(c: Column, dt: DataType, width: Long): Column = {
    val v = dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case _ => floor(c.cast("double")).cast("long")
    }
    v - pmod(v, lit(width))
  }

  /** Largest interval span (in bucket-start units) allowed by
    * `maxBucketsPerInterval` buckets, saturating instead of overflowing. */
  private def maxSpan(maxBuckets: Long, width: Long): Long =
    if (maxBuckets - 1L > Long.MaxValue / width) Long.MaxValue
    else (maxBuckets - 1L) * width

  def pointInInterval(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketWidth: Long, keyCols: Seq[String] = Nil,
      maxBucketsPerInterval: Long = 10000L): DataFrame = {
    require(bucketWidth > 0L, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval > 0L,
      s"maxBucketsPerInterval must be positive, got $maxBucketsPerInterval")
    val overlap = (points.columns.toSet intersect intervals.columns.toSet) -- keyCols
    require(overlap.isEmpty,
      s"non-key column names must be disjoint, both sides have: ${overlap.toSeq.sorted}")
    keyCols.foreach { k =>
      require(points.columns.contains(k) && intervals.columns.contains(k),
        s"key column '$k' must exist on both sides")
    }
    def bktI(c: Column) =
      bucketStart(c, intervals.schema(intervals.schema.fieldIndex(startCol)).dataType, bucketWidth)
    val ib = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .withColumn("__nb", bktI(col(endCol)) - bktI(col(startCol)))
      .withColumn("__bkt", explode(sequence(bktI(col(startCol)),
        when(col("__nb") <= maxSpan(maxBucketsPerInterval, bucketWidth), bktI(col(endCol)))
          .otherwise(raise_error(concat(
            lit(s"interval spans more than $maxBucketsPerInterval buckets of width " +
              s"$bucketWidth: ["), col(startCol), lit(", "), col(endCol),
            lit("] — raise bucketWidth or cap the interval")))),
        lit(bucketWidth))))
      .drop("__nb")
    val pb = points.filter(col(pointCol).isNotNull)
      .withColumn("__bkt", bucketStart(col(pointCol),
        points.schema(points.schema.fieldIndex(pointCol)).dataType, bucketWidth))
    pb.join(ib, (keyCols :+ "__bkt").toSeq)
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__bkt")
  }

  /**
   * Broadcast fast path of [[pointInInterval]] for SMALL interval sides
   * (session tables, calendars, maintenance windows): the intervals collect
   * into per-key start-sorted arrays with an augmented prefix-max-end index,
   * broadcast, and every point probes its containing intervals through a
   * columnar [[graft.functions.IntervalProbeExpr]] (O(log n + matches) per
   * point) — the POINT SIDE NEVER SHUFFLES and never leaves Tungsten; no
   * bucket explode exists at all, so `bucketWidth` disappears as a knob. At
   * 100 TB of events against a few thousand windows, this skips the bucketed
   * path's one exchange of every point. Row-identical to [[pointInInterval]]
   * (gate `events_in_session_bcast` pins hash parity against its oracle).
   *
   * Restrictions (the [[AsOfJoin.asofJoinBroadcast]] posture, fail-fast):
   * point/start/end columns must be INTEGRAL (probes compare exact Longs);
   * at most ONE key column, with identical types on both sides (the
   * broadcast map probes with raw JVM equality); the interval side must fit
   * the broadcast bound ([[SizeGuard]]).
   */
  def pointInIntervalBroadcast(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    require(keyCols.size <= 1,
      s"the broadcast path supports at most one key column, got $keyCols — " +
        "combine keys into one column first or use pointInInterval")
    val overlap = (points.columns.toSet intersect intervals.columns.toSet) -- keyCols
    require(overlap.isEmpty,
      s"non-key column names must be disjoint, both sides have: ${overlap.toSeq.sorted}")
    keyCols.foreach { k =>
      require(points.columns.contains(k) && intervals.columns.contains(k),
        s"key column '$k' must exist on both sides")
    }
    def requireIntegral(df: DataFrame, c: String, side: String): Unit = {
      val dt = df.schema(df.schema.fieldIndex(c)).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"$side column '$c' must be integral for the broadcast path (got " +
          s"${dt.catalogString}); use pointInInterval for fractional domains")
    }
    requireIntegral(points, pointCol, "point")
    requireIntegral(intervals, startCol, "interval start")
    requireIntegral(intervals, endCol, "interval end")
    keyCols.foreach { k =>
      val l = points.schema(points.schema.fieldIndex(k)).dataType
      val r = intervals.schema(intervals.schema.fieldIndex(k)).dataType
      require(l == r, s"key column '$k' types differ (${l.catalogString} vs " +
        s"${r.catalogString}) — align them first, or use pointInInterval")
      AsOfJoin.requireAtomicProbeKey(l, s"key column '$k'", "pointInInterval")
    }
    SizeGuard.requireFits(intervals, "pointInIntervalBroadcast interval side",
      "use pointInInterval, the bucketed shuffle path")
    val spark = points.sparkSession
    val keyOpt = keyCols.headOption
    // payload = every interval column except the key copy (the output keeps
    // the point side's key column, matching pointInInterval's join output)
    val payCols = intervals.columns.filterNot(keyOpt.contains).toSeq
    val payFields = payCols.map(c => intervals.schema(intervals.schema.fieldIndex(c)))
    val elementType = StructType(payFields)
    require(!points.columns.contains("__iv_probe"),
      "points already has a '__iv_probe' column — rename it first")
    // collected layout: 0 = key (or true literal), 1 = start, 2 = end, 3.. = payload
    val keyExpr = keyOpt.map(col).getOrElse(lit(true))
    val rRows = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol) &&
        keyOpt.map(col(_).isNotNull).getOrElse(lit(true)))
      .select((keyExpr.as("__k") +: col(startCol).cast("long") +:
        col(endCol).cast("long") +: payCols.map(col)): _*)
      .collect()
    val keyConv = keyOpt
      .map(k => CatalystTypeConverters.createToCatalystConverter(
        points.schema(points.schema.fieldIndex(k)).dataType))
      .getOrElse(CatalystTypeConverters.createToCatalystConverter(BooleanType))
    val valConvs = payFields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType)).toArray
    val byKey = rRows.groupBy(_.get(0)).map { case (k, rows) =>
      val sorted = rows.map { r => (r.getLong(1), r.getLong(2), r) }
        .sortBy { case (s, e, _) => (s, e) }
      val starts = sorted.map(_._1)
      val ends = sorted.map(_._2)
      val prefixMax = new Array[Long](ends.length)
      var i = 0; var mx = Long.MinValue
      while (i < ends.length) { mx = math.max(mx, ends(i)); prefixMax(i) = mx; i += 1 }
      val irs: Array[InternalRow] = sorted.map { case (_, _, r) =>
        val vals = new Array[Any](payCols.length)
        var j = 0
        while (j < payCols.length) { vals(j) = valConvs(j)(r.get(3 + j)); j += 1 }
        new GenericInternalRow(vals): InternalRow
      }
      keyConv(k) -> (starts, ends, prefixMax, irs)
    }
    val bc = spark.sparkContext.broadcast(graft.functions.IntervalProbeTable(byKey))
    val probe = org.apache.spark.sql.GraftBridge.column(
      graft.functions.IntervalProbeExpr(
        org.apache.spark.sql.GraftBridge.expression(keyOpt.map(col).getOrElse(lit(true))),
        org.apache.spark.sql.GraftBridge.expression(col(pointCol).cast("long")),
        bc, elementType))
    points.withColumn("__iv_probe", explode(probe))
      .select(points.columns.map(col) ++
        payCols.map(c => col("__iv_probe").getField(c).as(c)): _*)
  }

  /**
   * INTERVAL-overlap join: pairs (a, b) with `a.s ≤ b.e AND b.s ≤ a.e`
   * (inclusive overlap), bucketed exactly like [[pointInInterval]]. Both
   * sides explode into their covered buckets; a pair overlapping several
   * shared buckets is emitted ONCE via the first-shared-bucket rule — the
   * pair is kept only in bucket `max(bkt(a.s), bkt(b.s))`, which both sides
   * provably cover — so no distinct/dedup exchange is needed. Same column
   * contract and fanout guard as [[pointInInterval]].
   */
  def intervalOverlap(
      left: DataFrame, leftStart: String, leftEnd: String,
      right: DataFrame, rightStart: String, rightEnd: String,
      bucketWidth: Long, keyCols: Seq[String] = Nil,
      maxBucketsPerInterval: Long = 10000L): DataFrame = {
    require(bucketWidth > 0L, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval > 0L,
      s"maxBucketsPerInterval must be positive, got $maxBucketsPerInterval")
    val overlap = (left.columns.toSet intersect right.columns.toSet) -- keyCols
    require(overlap.isEmpty,
      s"non-key column names must be disjoint, both sides have: ${overlap.toSeq.sorted}")
    def dtOf(df: DataFrame, c: String) = df.schema(df.schema.fieldIndex(c)).dataType
    def explodeSide(df: DataFrame, sCol: String, eCol: String): DataFrame = {
      def bkt(c: Column) = bucketStart(c, dtOf(df, sCol), bucketWidth)
      df.filter(col(sCol).isNotNull && col(eCol).isNotNull && col(sCol) <= col(eCol))
        .withColumn("__nb", bkt(col(eCol)) - bkt(col(sCol)))
        .withColumn("__bkt", explode(sequence(bkt(col(sCol)),
          when(col("__nb") <= maxSpan(maxBucketsPerInterval, bucketWidth), bkt(col(eCol)))
            .otherwise(raise_error(concat(
              lit(s"interval spans more than $maxBucketsPerInterval buckets of width " +
                s"$bucketWidth: ["), col(sCol), lit(", "), col(eCol),
              lit("] — raise bucketWidth or cap the interval")))),
          lit(bucketWidth))))
        .drop("__nb")
    }
    val lb = explodeSide(left, leftStart, leftEnd)
    val rb = explodeSide(right, rightStart, rightEnd)
    lb.join(rb, (keyCols :+ "__bkt").toSeq)
      .filter(col(leftStart) <= col(rightEnd) && col(rightStart) <= col(leftEnd))
      .filter(col("__bkt") === greatest(
        bucketStart(col(leftStart), dtOf(left, leftStart), bucketWidth),
        bucketStart(col(rightStart), dtOf(right, rightStart), bucketWidth)))
      .drop("__bkt")
  }
}
