package graft

import org.scalatest.funsuite.AnyFunSuite

/** What the mains rely on from [[GraftSession]]: the shared confs and a
  * hygiene that leaves no persistent RDD behind. */
class GraftSessionSpec extends AnyFunSuite with LocalSpark {

  test("factory session: nanosAsLong, UTC, AQE with skew join, shuffle partitions = cores") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("hygiene unpersists localCheckpoint and persist residue") {
    val cp = spark.range(0L, 1000L, 1L, 4).localCheckpoint(true)
    val kept = spark.range(0L, 100L).persist()
    assert(cp.count() == 1000L && kept.count() == 100L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftSession.hygiene(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    assert(GraftSession.jsonString("a\"b\\c\nd\re\tf\u0001") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\"")
  }
}
