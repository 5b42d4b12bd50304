package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage: the engine's operators compose with Spark's built-in
  * readers/writers (parquet, csv, json, binaryFile) — the reference has no I/O
  * layer at all (SURVEY §2.2), so Spark's is the engine's. */
class SourcesSpec extends AnyFunSuite with LocalSpark {

  test("csv/json round-trip feeds simJoin identically to parquet") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select("p_partkey", "p_name")
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    part.write.mode("overwrite").option("header", "true").csv(dir + "/csv")
    part.write.mode("overwrite").json(dir + "/json")
    val fromCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir + "/csv")
      .withColumn("p_partkey", col("p_partkey").cast("long")) // csv infers int
    val fromJson = spark.read.json(dir + "/json")

    import graft.operators.{SimJoin, SimJoinOptions}
    def pairs(df: org.apache.spark.sql.DataFrame) =
      SimJoin.keyedPairs(df, "p_partkey", "p_name", df, "p_partkey", "p_name",
          SimJoinOptions(topN = 2, strategy = "direct"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = pairs(part)
    assert(pairs(fromCsv) == base)
    assert(pairs(fromJson) == base)
  }

  test("CsvTable round-trips hostile text bit-exactly") {
    val s = spark
    import s.implicits._
    val nasty = Seq(
      (1L, "plain text"),
      (2L, "comma, inside"),
      (3L, "a \"quoted\" phrase"),
      (4L, "embedded\nnewline"),
      (5L, "tab\tand trailing space "),
      (6L, "ünïcode ✓ 中文"),
      (7L, ""))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    graft.sources.CsvTable.write(nasty, dir)
    val back = graft.sources.CsvTable.read(spark, dir, nasty.schema)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = nasty.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // empty string vs null is the one CSV ambiguity: quoted "" reads back
    // null under Spark's csv reader — assert the documented behavior rather
    // than pretend it round-trips
    for (id <- 1L to 6L) assert(back(id) == want(id), s"id $id mismatched")
    assert(back.contains(7L))
  }

  test("schema evolution: mergeSchema unions batches with differing columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    val s = spark
    import s.implicits._
    // batch 1: (doc_id, text); batch 2 adds a quality column
    Seq((1L, "alpha")).toDF("doc_id", "text").write.parquet(dir + "/t/b=1")
    Seq((2L, "beta", 0.9)).toDF("doc_id", "text", "quality").write.parquet(dir + "/t/b=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir + "/t")
    assert(merged.columns.toSet == Set("doc_id", "text", "quality", "b"))
    val rows = merged.select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(0.9))) // old rows null-fill new cols
  }

  test("partitionBy writes prune partitions at read") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir + "/bylang")
    val re = spark.read.parquet(dir + "/bylang").filter(col("lang") === "en")
    val scan = re.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    assert(re.count() == docs.filter(col("lang") === "en").count())
  }

  test("orc round-trip feeds simJoin identically to parquet (with pushdown)") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select("p_partkey", "p_name")
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    part.write.mode("overwrite").orc(dir + "/orc")
    val fromOrc = spark.read.orc(dir + "/orc")
    import graft.operators.{SimJoin, SimJoinOptions}
    def pairs(df: org.apache.spark.sql.DataFrame) =
      SimJoin.keyedPairs(df, "p_partkey", "p_name", df, "p_partkey", "p_name",
          SimJoinOptions(topN = 2, strategy = "direct"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(fromOrc) == pairs(part))
    // predicate pushdown reaches the ORC scan
    val filtered = fromOrc.filter(col("p_partkey") < 10)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(p_partkey), LessThan(p_partkey,10)]"), scan)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select("p_partkey", "p_name")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      // the warehouse dir outlives the in-memory catalog across JVM runs
      spark.sql("DROP TABLE IF EXISTS part_bucketed")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "part_bucketed")
      if (loc.exists()) {
        java.nio.file.Files.walk(loc.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      part.write.bucketBy(8, "p_partkey").sortBy("p_partkey")
        .mode("overwrite").saveAsTable("part_bucketed")
      val a = spark.table("part_bucketed")
      val b = spark.table("part_bucketed")
      val joined = a.join(b, "p_partkey")
      val plan = joined.queryExecution.executedPlan.toString
      // both sides pre-partitioned on the join key by the bucketing layout
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == part.count())
    }
  }

  test("binaryFile source feeds the multimodal pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin").toFile
    java.nio.file.Files.write(new java.io.File(dir, "a.bin").toPath,
      "hello binary world".getBytes("UTF-8"))
    val bin = spark.read.format("binaryFile").load(dir.toString)
      .select(col("path"), col("content").as("payload"))
    val meta = graft.operators.Multimodal.withDecodedMeta(bin, "payload")
      .select(col("media_meta.n_bytes"), col("media_sha")).head()
    assert(meta.getLong(0) == 18L)
    assert(meta.getString(1).length == 64)
  }

  test("AvroTable round-trips nulls, empty strings, binary, all supported types") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "plain", Some(2.5), Some(1.5f), Some(7), Some(true), Some(Array[Byte](1, 2, 3))),
      (2L, "", Some(-0.0), Some(0f), Some(-1), Some(false), Some(Array.empty[Byte])),
      (3L, null.asInstanceOf[String], None, None, None, None, None),
      (4L, "unicode é中文 \"quoted\"\nline2", Some(1e-300), Some(Float.MinValue),
        Some(Int.MaxValue), Some(true), Some(Array[Byte](-128, 127))))
    val df = rows.toDF("id", "t", "d", "f", "i", "b", "bin").repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("graft-avro").toString + "/t"
    graft.sources.AvroTable.write(df, dir)
    val back = graft.sources.AvroTable.read(s, dir, df.schema)
    def canon(x: org.apache.spark.sql.DataFrame) =
      x.collect().map { r =>
        (r.getLong(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getFloat(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4)),
          if (r.isNullAt(5)) None else Some(r.getBoolean(5)),
          if (r.isNullAt(6)) None else Some(r.getAs[Array[Byte]](6).toSeq))
      }.toSet
    assert(canon(back) == canon(df))
    assert(back.schema == df.schema)
    // explicit-schema drift fails loudly
    intercept[Exception] {
      graft.sources.AvroTable.read(s, dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("missing_col",
            org.apache.spark.sql.types.LongType)))).collect()
    }
    // unsupported type fails fast at write
    intercept[IllegalArgumentException] {
      graft.sources.AvroTable.write(
        Seq((1L, Seq(1f))).toDF("id", "vec"), dir + "_bad")
    }
    // an all-empty write round-trips to an empty frame, not a crash
    val emptyDir = dir + "_empty"
    graft.sources.AvroTable.write(df.filter(col("id") < 0L), emptyDir)
    val emptyBack = graft.sources.AvroTable.read(s, emptyDir, df.schema)
    assert(emptyBack.count() == 0L && emptyBack.schema == df.schema)
  }

  test("AvroTable splittable read: one big file, tiny splits, bit-exact union") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-split").toString + "/t"
    // ONE container file (~hundreds of KB), read with 4 KB splits — dozens
    // of byte ranges must each pick up exactly the blocks whose first sync
    // falls inside them, and the union must be the whole file
    val df = (0L until 20000L).map(i => (i, s"row-$i-" + ("x" * (i % 37).toInt)))
      .toDF("id", "t").coalesce(1)
    graft.sources.AvroTable.write(df, dir)
    val back = graft.sources.AvroTable.read(s, dir, df.schema, maxSplitBytes = 4096L)
    assert(back.rdd.getNumPartitions > 10, s"expected many splits, got ${back.rdd.getNumPartitions}")
    val got = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // a limit stops early without draining every split (the completion
    // listener owns the close) — and still returns rows
    assert(graft.sources.AvroTable.read(s, dir, df.schema, maxSplitBytes = 4096L)
      .limit(5).collect().length == 5)
  }

  test("AvroTable read fails early, with both types named, on writer-type drift") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-drift").toString + "/t"
    // column written as Avro int; caller declaring LongType is drift, not a
    // widening cast — must fail at file open naming column + both types
    graft.sources.AvroTable.write(Seq((1, "a"), (2, "b")).toDF("n", "t"), dir)
    val ex = intercept[org.apache.spark.SparkException] {
      graft.sources.AvroTable.read(s, dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType)))).collect()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    val msg = causes(ex).collectFirst {
      case c: IllegalArgumentException => c.getMessage
    }.getOrElse(fail("no IllegalArgumentException cause: " + ex))
    assert(msg.contains("column n") && msg.contains("written as Avro int") &&
      msg.contains("bigint"))
    // the matching schema still reads fine from the same files
    val ok = graft.sources.AvroTable.read(s, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.StringType))))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(ok == Set((1, "a"), (2, "b")))
  }
}
