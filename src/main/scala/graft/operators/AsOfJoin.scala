package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of (temporal) join: for every left row, the single right row with the
 * greatest right timestamp ≤ the left timestamp (direction "backward", the
 * default; "forward" = smallest right timestamp ≥ left), matching on an
 * equi-key. The polars/pandas `join_asof` and DuckDB `ASOF JOIN` semantics —
 * the operator the reference README likens its similarity join to
 * (/root/reference/README.md:14: "similar to a left join or join_asof") but
 * does not itself provide; Spark has no native as-of join either.
 *
 * Spark-first plan (NOT a range join, which Catalyst would execute as a
 * broadcast-nested-loop over every (key, l.ts ≥ r.ts) pair — quadratic per
 * key): tag and UNION the two sides, ONE hash shuffle on the key, and a
 * running `last(payload, ignoreNulls)` window ordered by (ts, side, tiebreak)
 * with a rows-unbounded-preceding frame. Each partition is scanned once in
 * sorted order carrying the latest right payload per key — O(n log n) for the
 * sort, O(n) for the carry, no per-pair work, and the whole thing stays in
 * whole-stage-codegen'd WindowExec. At 100 TB both sides shuffle exactly once
 * on the key; a pathologically hot key serializes through one window
 * partition — salt the key externally if one key dominates (the usual window
 * caveat, same as any per-key sort). Every LEFT column rides the shuffle
 * (struct-packed): for very wide left rows, project to (key, ts, unique id)
 * first and join the payload back by id after — the same slim-then-join-back
 * discipline as [[CorpusStats.keepTopPercent]].
 *
 * Determinism: right rows sharing (key, ts) are ordered by `tieCol`, and the
 * LARGEST wins (it sorts last and the running `last` carries it); equal
 * timestamps across sides match (right sorts before left at the same ts —
 * inclusive, like DuckDB's `ON l.ts >= r.ts`).
 */
object AsOfJoin {

  /** The driver-built broadcast probe maps ([[graft.functions.AsOfProbeTable]],
    * [[graft.functions.IntervalProbeTable]]) key on CatalystTypeConverters
    * output (GenericInternalRow / GenericArrayData / a fresh Array[Byte]), but
    * executor-side child eval yields Unsafe forms (or a new byte array) whose
    * equals/hashCode NEVER match the Generic forms — a struct-, array-, map-
    * or binary-typed key would silently match nothing. Fail fast on anything
    * but an atomic non-binary key (the same posture as the cross-side type
    * guard). */
  private[operators] def requireAtomicProbeKey(
      dt: org.apache.spark.sql.types.DataType, what: String, shufflePath: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = dt match {
      case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    require(ok,
      s"$what must be an atomic non-binary type (string/numeric/boolean/date/timestamp) " +
        s"for the broadcast probe path, got ${dt.catalogString}: struct/array/map/binary " +
        s"keys compare by reference in the broadcast map and would silently match " +
        s"nothing — use $shufflePath (shuffle path) instead")
  }

  /**
   * @param left     probe side (every row survives — left-join semantics)
   * @param right    build side
   * @param keyCol   equi-join key column name, present on both sides
   * @param leftTs / rightTs  timestamp (any orderable type) columns
   * @param payload  right columns to carry onto matches, renamed via the map
   *                 (rightName -> outputName); unmatched rows get nulls
   * @param tieCol   right column breaking (key, ts) ties — largest value wins
   * @param direction "backward" (greatest r.ts ≤ l.ts), "forward" (smallest
   *                 r.ts ≥ l.ts), or "nearest" (smallest |l.ts − r.ts|; equal
   *                 distance goes backward — the pandas/polars convention).
   *                 Nearest runs both carries over the same key shuffle (one
   *                 exchange, two in-partition sorts)
   * @param tolerance max |l.ts - r.ts| in the ts columns' CAST-TO-LONG unit
   *                 (seconds for TimestampType; the column's own unit for
   *                 numeric timestamps, e.g. µs for epoch-micro Longs);
   *                 0 = unbounded. Out-of-tolerance matches become nulls,
   *                 rows stay (left semantics). Pick-nearest-then-filter
   *                 equals filter-then-pick here: if the nearest candidate is
   *                 out of tolerance, the farther one is too.
   * @return left rows + payload columns (+ `matched_ts` = matched right ts)
   */
  def asofJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String,
      payload: Seq[(String, String)], tieCol: String,
      direction: String = "backward", tolerance: Long = 0L): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    require(tolerance >= 0L, s"tolerance must be >= 0 (0 = unbounded), got $tolerance")
    require(payload.nonEmpty, "payload must name at least one right column to carry")
    val leftCols = left.columns.toSeq
    require(!leftCols.contains("matched_ts"),
      "left already has a 'matched_ts' column — rename it first")
    payload.foreach { case (_, out) =>
      require(!leftCols.contains(out), s"output payload column '$out' collides with a left column")
      require(out != "__ts" && out != "__tie" && out != "matched_ts",
        s"output payload name '$out' is reserved")
    }
    require(payload.map(_._2).distinct.length == payload.length,
      s"duplicate output payload names in ${payload.map(_._2)}")
    // one struct carries ts + tiebreak + payload, so a single running last()
    // tracks everything atomically (per-column lasts could mix two right rows)
    val payStruct = struct(
      (col(rightTs).as("__ts") +: col(tieCol).as("__tie") +:
        payload.map { case (in, out) => col(in).as(out) }): _*)
    // null literals on the opposite side need the struct types resolved
    // against the real frames (an unresolved struct has no dataType yet)
    val payType = right.select(payStruct.as("__pay")).schema("__pay").dataType
    val lrowType = left.select(struct(leftCols.map(col): _*).as("__lrow"))
      .schema("__lrow").dataType
    val l = left.select(
      col(keyCol).as("__key"), col(leftTs).as("__t"),
      lit(1).as("__side"), lit(null).cast("long").as("__tie0"),
      lit(null).cast(payType).as("__pay"),
      struct(leftCols.map(col): _*).as("__lrow"))
    val r = right
      .filter(col(keyCol).isNotNull && col(rightTs).isNotNull)
      .select(
        col(keyCol).as("__key"), col(rightTs).as("__t"),
        lit(0).as("__side"), col(tieCol).cast("long").as("__tie0"),
        payStruct.as("__pay"),
        lit(null).cast(lrowType).as("__lrow"))
    // backward: ascending scan, right rows first at equal ts so they are
    // visible to same-ts left rows; forward: the mirror (descending scan,
    // carrying the NEXT right row). In BOTH directions __tie0 sorts
    // ascending: the carry keeps whatever sorted last, so ascending ties put
    // the largest tiebreak in the carried slot. "nearest" runs both carries
    // over the SAME key exchange (two sorts, one shuffle — Spark reuses the
    // hash partitioning for both windows) and picks the closer match;
    // equal-distance ties go backward (the pandas/polars convention).
    def carryWindow(backward: Boolean) = {
      val ord: Seq[Column] =
        if (backward) Seq(col("__t").asc, col("__side").asc, col("__tie0").asc)
        else Seq(col("__t").desc, col("__side").asc, col("__tie0").asc)
      Window.partitionBy(col("__key")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    }
    def dist(m: Column, backward: Boolean): Column =
      if (backward) col("__t").cast("long") - m.getField("__ts").cast("long")
      else m.getField("__ts").cast("long") - col("__t").cast("long")
    val u = l.unionByName(r)
    val carried = (direction match {
      case "nearest" =>
        val both = u
          .withColumn("__mb", last(col("__pay"), ignoreNulls = true).over(carryWindow(true)))
          .withColumn("__mf", last(col("__pay"), ignoreNulls = true).over(carryWindow(false)))
        both.withColumn("__m",
          when(col("__mb").isNotNull &&
              (col("__mf").isNull ||
                dist(col("__mb"), backward = true) <= dist(col("__mf"), backward = false)),
            col("__mb")).otherwise(col("__mf")))
      case d =>
        u.withColumn("__m",
          last(col("__pay"), ignoreNulls = true).over(carryWindow(d == "backward")))
    }).filter(col("__side") === 1)
    // __t.isNotNull: a null-ts left row sorts LAST in the forward/descending
    // scan and would otherwise carry the minimum-ts right row as a bogus
    // match (backward nulls-first order happens to be safe — guard both).
    val withinTol =
      if (tolerance == 0L) col("__t").isNotNull && col("__m").isNotNull
      else col("__t").isNotNull && col("__m").isNotNull &&
        abs(col("__t").cast("long") - col("__m.__ts").cast("long")) <= tolerance
    val out = leftCols.map(c => col(s"__lrow.$c").as(c)) ++
      (payload.map(_._2) :+ "matched_ts").map { c =>
        val src = if (c == "matched_ts") col("__m.__ts") else col(s"__m.$c")
        when(withinTol, src).as(c)
      }
    carried.select(out: _*)
  }

  /**
   * Broadcast fast path of [[asofJoin]] for SMALL right sides (rate tables,
   * calendars, config histories): the right side is collected into per-key
   * (ts, tie)-sorted arrays, broadcast, and every left row binary-searches
   * its match via a columnar [[graft.functions.AsOfProbeExpr]] probe — the
   * LEFT SIDE NEVER SHUFFLES and never leaves Tungsten format (no RDD
   * scan in the plan). The shuffle path moves both sides through one key
   * exchange and per-key sorts; at 100 TB of left events against a
   * kilobyte-to-megabyte right table, skipping that exchange is the whole
   * cost of the join. Same contract as [[asofJoin]] (all directions,
   * tolerance, largest-tie wins, left rows always survive, null left
   * key/ts → null match), verified row-identical by the AsOfProps parity
   * property.
   *
   * Restriction: both ts columns must be INTEGRAL (the shuffle path orders
   * on the native type; this path orders on exact Long casts — a
   * TimestampType cast("long") would truncate to seconds and silently
   * reorder sub-second data; convert to epoch micros first, e.g.
   * [[graft.streaming.EventTime.tsMicros]]). Fails fast otherwise, and
   * when the right side does not fit the broadcast bound ([[SizeGuard]]).
   */
  def asofJoinBroadcast(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String,
      payload: Seq[(String, String)], tieCol: String,
      direction: String = "backward", tolerance: Long = 0L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    require(tolerance >= 0L, s"tolerance must be >= 0 (0 = unbounded), got $tolerance")
    require(payload.nonEmpty, "payload must name at least one right column to carry")
    val leftCols = left.columns.toSeq
    require(!leftCols.contains("matched_ts"),
      "left already has a 'matched_ts' column — rename it first")
    payload.foreach { case (_, out) =>
      require(!leftCols.contains(out), s"output payload column '$out' collides with a left column")
    }
    require(payload.map(_._2).distinct.length == payload.length,
      s"duplicate output payload names in ${payload.map(_._2)}")
    def requireIntegralTs(df: DataFrame, c: String, side: String): Unit = {
      val dt = df.schema(df.schema.fieldIndex(c)).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"$side ts column '$c' must be integral for the broadcast path (got " +
          s"${dt.catalogString}); convert timestamps to epoch micros first or use asofJoin")
    }
    requireIntegralTs(left, leftTs, "left")
    requireIntegralTs(right, rightTs, "right")
    // the broadcast map probes with raw JVM equality — an IntegerType left key
    // never equals a LongType right key, so mismatched types would silently
    // match nothing (the shuffle path coerces via union); fail fast instead
    val lKeyDt = left.schema(left.schema.fieldIndex(keyCol)).dataType
    val rKeyDt = right.schema(right.schema.fieldIndex(keyCol)).dataType
    require(lKeyDt == rKeyDt,
      s"left/right key column '$keyCol' types differ (${lKeyDt.catalogString} vs " +
        s"${rKeyDt.catalogString}) — align them first, or use asofJoin (shuffle path)")
    requireAtomicProbeKey(lKeyDt, s"key column '$keyCol'", "asofJoin")
    SizeGuard.requireFits(right, "asofJoinBroadcast right side",
      "use asofJoin, the shuffle path")
    val spark = left.sparkSession
    val nPay = payload.length
    require(!leftCols.contains("__asof_probe"),
      "left already has a '__asof_probe' column — rename it first")
    // per key: rows sorted by (ts, tie) ascending — "largest tie wins" =
    // rightmost element of any ts group, matching the shuffle path's carry.
    // collected layout: 0=key, 1=ts(long), 2=tie(long), 3=original ts,
    // 4.. = payload values
    val rRows = right
      .filter(col(keyCol).isNotNull && col(rightTs).isNotNull)
      .select((col(keyCol) +: col(rightTs).cast("long") +:
        col(tieCol).cast("long") +: col(rightTs).as("__orig_ts") +:
        payload.map { case (in, _) => col(in) }): _*)
      .collect()
    val rightSchema = right.schema
    val payFields = payload.map { case (in, out) =>
      val f = rightSchema(rightSchema.fieldIndex(in))
      StructField(out, f.dataType, nullable = true)
    }
    val tsField = rightSchema(rightSchema.fieldIndex(rightTs))
    val resultType = StructType(
      payFields :+ StructField("matched_ts", tsField.dataType, nullable = true))
    // probe table values are CATALYST-format (keys via the key converter so
    // executor-side child eval results hash-match; result structs prebuilt in
    // output layout) — the probe itself is an Expression, so the huge left
    // side stays in Tungsten format instead of deserializing through left.rdd
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val keyConv = CatalystTypeConverters.createToCatalystConverter(lKeyDt)
    val valConvs = (payFields.map(_.dataType) :+ tsField.dataType)
      .map(CatalystTypeConverters.createToCatalystConverter).toArray
    val byKey: Map[Any, (Array[Long], Array[InternalRow])] = rRows
      .groupBy(_.get(0))
      .map { case (k, rows) =>
        val sorted = rows.map { r =>
          val ts = r.getLong(1)
          val tie = if (r.isNullAt(2)) Long.MinValue else r.getLong(2) // nulls sort first
          (ts, tie, r)
        }.sortBy { case (ts, tie, _) => (ts, tie) }
        val tsArr = sorted.map(_._1)
        val irs: Array[InternalRow] = sorted.map { case (_, _, r) =>
          val vals = new Array[Any](nPay + 1)
          var i = 0
          while (i < nPay) { vals(i) = valConvs(i)(r.get(4 + i)); i += 1 }
          vals(nPay) = valConvs(nPay)(r.get(3))
          new GenericInternalRow(vals): InternalRow
        }
        keyConv(k) -> (tsArr, irs)
      }
    val bc = spark.sparkContext.broadcast(graft.functions.AsOfProbeTable(byKey))
    val probe = org.apache.spark.sql.GraftBridge.column(
      graft.functions.AsOfProbeExpr(
        org.apache.spark.sql.GraftBridge.expression(col(keyCol)),
        org.apache.spark.sql.GraftBridge.expression(col(leftTs).cast("long")),
        bc, resultType, direction, tolerance))
    // explode(array(probe)) puts the probe in a Generate node — a projection
    // barrier CollapseProject cannot cross — so the (CodegenFallback, hash-
    // lookup + binary-search) probe evaluates exactly ONCE per left row
    // instead of once per extracted field. Same shape as IntervalJoin's
    // single-explode path; a 1-element array whose element may be a null
    // struct still emits the row (left-join semantics preserved).
    left.withColumn("__asof_probe", explode(array(probe)))
      .select(leftCols.map(col) ++
        payload.map { case (_, out) => col("__asof_probe").getField(out).as(out) } :+
        col("__asof_probe").getField("matched_ts").as("matched_ts"): _*)
  }
}
