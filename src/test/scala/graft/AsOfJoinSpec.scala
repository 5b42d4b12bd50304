package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, Sampling}

/** Specs for the as-of join and stratified sampling. */
class AsOfJoinSpec extends AnyFunSuite with LocalSpark {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def sides: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    // left: probe events; right: quotes with values (key = user)
    val left = Seq(
      (1L, 1L, ts(100)), // matches right@100 (equal ts inclusive)
      (2L, 1L, ts(150)), // matches right@100 (greatest <= 150)
      (3L, 1L, ts(50)),  // no right at or before 50 -> nulls
      (4L, 2L, ts(500)), // matches user-2 right@400, never user 1's
      (5L, 3L, ts(10))   // user with no right rows at all -> nulls
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 1L, ts(100), 1.0),
      (11L, 1L, ts(100), 2.0), // same (key, ts): larger event_id must win
      (12L, 1L, ts(200), 3.0),
      (13L, 2L, ts(400), 4.0)
    ).toDF("event_id", "user_id", "ts", "value")
    (left, right)
  }

  private def runAsof(left: DataFrame, right: DataFrame,
      direction: String = "backward", tolerance: Long = 0L) =
    AsOfJoin.asofJoin(left, right, "user_id", "ts", "ts",
        Seq("value" -> "matched_value"), "event_id",
        direction = direction, tolerance = tolerance)
      .collect().map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[Double]("matched_value")),
        Option(r.getAs[Timestamp]("matched_ts")).map(_.getTime / 1000L)))
      .toSet

  test("asofJoin backward: greatest right ts <= left ts, inclusive, per key") {
    val (left, right) = sides
    assert(runAsof(left, right) == Set(
      (1L, Some(2.0), Some(100L)), // equal-ts match; tie -> larger right id
      (2L, Some(2.0), Some(100L)),
      (3L, None, None),            // left-join semantics: row survives
      (4L, Some(4.0), Some(400L)), // keys never cross
      (5L, None, None)))
  }

  test("asofJoin forward: smallest right ts >= left ts") {
    val (left, right) = sides
    assert(runAsof(left, right, direction = "forward") == Set(
      (1L, Some(2.0), Some(100L)), // inclusive at equal ts, tie -> larger id
      (2L, Some(3.0), Some(200L)),
      (3L, Some(2.0), Some(100L)),
      (4L, None, None),            // nothing at or after 500 for user 2
      (5L, None, None)))
  }

  test("asofJoin nearest: smaller |delta| wins, equal distance goes backward") {
    val (left, right) = sides
    assert(runAsof(left, right, direction = "nearest") == Set(
      (1L, Some(2.0), Some(100L)), // exact hit
      (2L, Some(2.0), Some(100L)), // back 50s vs fwd 50s — tie -> backward
      (3L, Some(2.0), Some(100L)), // only a forward candidate (50s ahead)
      (4L, Some(4.0), Some(400L)), // only a backward candidate
      (5L, None, None)))
    // tolerance applies to |delta| in nearest mode
    val tight = runAsof(left, right, direction = "nearest", tolerance = 10L)
    assert(tight.contains((2L, None, None)) && tight.contains((1L, Some(2.0), Some(100L))))
  }

  test("asofJoin tolerance: distant matches null out but rows survive") {
    val (left, right) = sides
    // event 2 at 150 matches right@100 (50s away); tolerance 10s kills it
    val got = runAsof(left, right, tolerance = 10L)
    assert(got.contains((1L, Some(2.0), Some(100L)))) // 0s away — kept
    assert(got.contains((2L, None, None)))
    assert(got.size == 5)
  }

  test("asofJoin: null left ts never matches, in any direction") {
    val s = spark
    import s.implicits._
    val (_, right) = sides
    val left = Seq((9L, 1L, Option.empty[Long]))
      .toDF("event_id", "user_id", "tsl")
      .select(col("event_id"), col("user_id"),
        (col("tsl") * 1000).cast("timestamp").as("ts"))
    for (d <- Seq("backward", "forward", "nearest")) {
      assert(runAsof(left, right, direction = d) == Set((9L, None, None)),
        s"direction=$d: a null-ts left row must survive unmatched")
    }
  }

  test("asofJoin: deterministic under re-partitioning, left rows preserved") {
    val (left, right) = sides
    val a = runAsof(left, right)
    val b = runAsof(left.repartition(7), right.repartition(3))
    assert(a == b)
    assert(a.size == left.count())
  }

  test("stratifiedSample: per-stratum rates, default, determinism, null raises") {
    val s = spark
    import s.implicits._
    val df = (1L to 300L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val kept = Sampling.stratifiedSample(df, "id", "src",
      Map("s0" -> 100, "s1" -> 0), defaultPct = 50).collect()
    val bySrc = kept.groupBy(_.getAs[String]("src")).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("s0", 0) == 100) // 100% of its 100 rows
    assert(!bySrc.contains("s1"))           // 0% kept
    val s2 = bySrc.getOrElse("s2", 0)       // ~50% of 100, hash-dependent
    assert(s2 > 20 && s2 < 80)
    // key-stable: same survivors on a re-partitioned frame
    val again = Sampling.stratifiedSample(df.repartition(11), "id", "src",
      Map("s0" -> 100, "s1" -> 0), defaultPct = 50)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(again == kept.map(_.getAs[Long]("id")).toSet)
    val withNull = df.withColumn("src", when(col("id") === 7L, lit(null)).otherwise(col("src")))
    val ex = intercept[Exception] {
      Sampling.stratifiedSample(withNull, "id", "src", Map("s0" -> 10)).collect()
    }
    assert(ex.getMessage.contains("null src"))
  }
}
