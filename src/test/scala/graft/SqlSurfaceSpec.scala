package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.SimDedup

/** The SQL-callable surface + similarity dedup operator. */
class SqlSurfaceSpec extends AnyFunSuite with LocalSpark {

  test("registered SQL functions are callable from spark.sql") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT trigrams('abcd') AS t, trigram_strings('abcd') AS ts,
        |       normalize_words('Small Ring!') AS n, thash('small ring') AS h,
        |       word_shingles('a b c d') AS sh,
        |       minhash_sig(array('a b c')) AS mh""".stripMargin).head()
    assert(r.getSeq[Int](0) == Seq(28, 731)) // abc, bcd
    assert(r.getSeq[String](1) == Seq("abc", "bcd"))
    assert(r.getString(2) == "smallring")
    assert(r.getLong(3) == 2991019091831L)
    assert(r.getSeq[String](4) == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](5).length == 32)
    val r2 = spark.sql(
      """SELECT minhash_bands(array('a b c')) AS mb,
        |       doc_score('the quick brown fox is a dog') AS ds,
        |       chunk_words('aa bb cc dd ee', 3, 1) AS ch,
        |       quantize_int8(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS qz""".stripMargin).head()
    assert(r2.getSeq[String](0).length == 8)
    val ds = r2.getStruct(1)
    assert(ds.getString(1) == "en" && ds.getDouble(0) > 0.5)
    assert(r2.getSeq[String](2) == Seq("aa bb cc", "cc dd ee"))
    val qz = r2.getStruct(3)
    assert(qz.getSeq[Int](1) == Seq(127, -63)) // floor(x+0.5): half rounds toward +inf
    // the round-6 registrations agree with their operator-path counterparts
    val doc = "alpha beta gamma delta epsilon zeta eta theta"
    val r3 = spark.sql(
      s"SELECT simhash64('$doc') AS sh, winnow('$doc', 8, 4) AS wf").head()
    val shs = graft.functions.TextFunctions.shingles3Array(doc)
    val sh = r3.getStruct(0)
    assert(sh.getLong(0) ==
      graft.functions.TextFunctions.simHashHalf(shs, graft.functions.TextFunctions.SimHashMult1))
    assert(sh.getLong(1) ==
      graft.functions.TextFunctions.simHashHalf(shs, graft.functions.TextFunctions.SimHashMult2))
    assert(r3.getSeq[Long](1).toArray.sameElements(
      graft.functions.TextFunctions.winnowFingerprints(doc, 8, 4)))
    val r4 = spark.sql(s"SELECT kgram_hashes('$doc', 20) AS kh").head()
    assert(r4.getSeq[Long](0).toArray.sameElements(
      graft.functions.TextFunctions.kGramHashes(doc, 20)))
  }

  test("GraftExtensions wiring applies cleanly (runtime proof lives in Smoke's own JVM)") {
    // getOrCreate ignores spark.sql.extensions once a session exists in this
    // test JVM, so the end-to-end drive is in graft.Smoke (fresh JVM); here we
    // pin that the injection itself is well-formed.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
  }

  test("session_window streaming sessionization runs and matches batch totals") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1L, 2.0), // same session
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1L, 4.0)) // new session
    val batch = rows.toDF("ts", "user_id", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toFile
    batch.write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(batch.schema).parquet(dir + "/in")
    val q = graft.streaming.Sessionize.sessionsStream(stream, "30 minutes")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == Set(
        (1L, "2024-01-01 00:00:00", 2L, 3.0),
        (1L, "2024-01-01 02:00:00", 1L, 4.0)))
    } finally q.stop()
  }

  test("SimDedup clusters similar keys transitively with min-id canonicals") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (10L, "cold widget"), (11L, "old widget"), (12L, "cold widget"),
      (20L, "blue bolt"), (21L, "completely unrelated")).toDF("id", "name")
    val out = SimDedup.dedup(df, "id", "name", 0.85)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // cold widget ~ old widget (sim 0.913) -> one cluster, canonical = 10
    assert(out == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L))
  }
}
