package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SimJoin, SimJoinOptions}

/** Stream-static similarity scoring: the SAME thresholdPairs operator code runs
  * over a streaming left side (stateless tokenize/explode + stream-static join
  * + streaming aggregation in update mode) and agrees with the batch result. */
class StreamingSimSpec extends AnyFunSuite with LocalSpark {

  test("thresholdPairs over a file stream matches the batch result") {
    val s = spark
    import s.implicits._
    val queries = Seq((1L, "small ring"), (2L, "cold widget"), (3L, "zzz"))
      .toDF("qid", "qname")
    val corpus = Seq((10L, "small rings"), (11L, "old widget"), (12L, "blue bolt"))
      .toDF("cid", "cname")
    val opts = SimJoinOptions(strategy = "direct", broadcastSide = "right")

    val batch = SimJoin.thresholdPairs(
        queries, "qid", "qname", corpus, "cid", "cname", 0.5, opts,
        outLeft = "qid", outRight = "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 10L), (2L, 11L))) // zzz matches nothing

    val dir = java.nio.file.Files.createTempDirectory("graft-simstream").toFile
    queries.write.mode("overwrite").parquet(dir + "/in")
    val qStream = spark.readStream.schema(queries.schema).parquet(dir + "/in")
    val scored = SimJoin.thresholdPairs(
      qStream, "qid", "qname", corpus, "cid", "cname", 0.5, opts,
      outLeft = "qid", outRight = "cid")
    val q = scored.writeStream.format("memory").queryName("sim_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sim_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("StreamJoin.correlate: stream-stream time-range join matches batch") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val clicks = Seq(
      (1L, 100L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, 101L, Timestamp.valueOf("2024-01-01 11:00:00")),
      (2L, 102L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "event_id", "ts")
    val views = Seq(
      (1L, 200L, Timestamp.valueOf("2024-01-01 10:10:00")), // 10 min after click 100
      (1L, 201L, Timestamp.valueOf("2024-01-01 10:45:00")), // 45 min after 100: outside
      (2L, 202L, Timestamp.valueOf("2024-01-01 09:50:00"))) // before the click: excluded
      .toDF("user_id", "event_id", "ts")
    val batch = graft.streaming.StreamJoin.correlate(
        clicks, "event_id", views, "event_id", "user_id", "30 minutes",
        leftIdOut = "click_id", rightIdOut = "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch == Set((1L, 100L, 200L, 600000000L))) // only the 10-min pair

    val dir = java.nio.file.Files.createTempDirectory("graft-sjoin").toFile
    clicks.write.parquet(dir + "/clicks")
    views.write.parquet(dir + "/views")
    val cs = spark.readStream.schema(clicks.schema).parquet(dir + "/clicks")
    val vs = spark.readStream.schema(views.schema).parquet(dir + "/views")
    val out = graft.streaming.StreamJoin.correlate(
      cs, "event_id", vs, "event_id", "user_id", "30 minutes",
      leftIdOut = "click_id", rightIdOut = "view_id", watermark = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("sjoin_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sjoin_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("StreamDedup.firstPerHash: stateful streaming dedup, first batch wins") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupstream").toFile
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    // batch 1: two distinct texts, one internal duplicate (ids 11 & 12)
    Seq((10L, "alpha beta"), (11L, "gamma delta"), (12L, "gamma delta"))
      .toDF("doc_id", "text").write.parquet(dir + "/in/b1")
    val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
    val out = graft.streaming.StreamDedup.firstPerHash(stream.toDF(), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table("dedup_stream")
        .collect().map(r => r.getLong(0)).toSet
      assert(got() == Set(10L, 11L)) // min id per hash within the batch
      // batch 2: a late duplicate of "alpha beta" (even with a SMALLER id — the
      // stream already committed 10) plus one genuinely new text
      Seq((5L, "alpha beta"), (20L, "epsilon zeta"))
        .toDF("doc_id", "text").write.parquet(dir + "/in/b2")
      q.processAllAvailable()
      assert(got() == Set(10L, 11L, 20L)) // 5 dropped by state, 20 appended
    } finally q.stop()

    // batch semantics: one invocation per group, empty state => min id per
    // hash == Dedup.exact's canonical rows
    val batchDf = Seq((10L, "alpha beta"), (5L, "alpha beta"), (11L, "gamma delta"))
      .toDF("doc_id", "text")
    val batchOut = graft.streaming.StreamDedup.firstPerHash(batchDf, "doc_id", "text")
      .collect().map(_.doc_id).toSet
    assert(batchOut == Set(5L, 11L))
  }

  test("stratifiedSample and deterministicSample run unchanged on streams") {
    val s = spark
    import s.implicits._
    // both samplers are pure narrow filters (hash-bucket rules), so the same
    // call works on a streaming frame — batch/stream unification for free
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sample").toFile
    val batch = (1L to 200L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("id", "src")
    batch.write.parquet(dir + "/in/b1")
    val stream = spark.readStream.schema(batch.schema).parquet(dir + "/in/*")
    val out = graft.operators.Sampling.stratifiedSample(
      stream, "id", "src", Map("keep" -> 100, "drop" -> 0))
    val q = out.writeStream.format("memory").queryName("stream_sample")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_sample").collect().map(_.getLong(0)).toSet
      val expected = graft.operators.Sampling.stratifiedSample(
          batch, "id", "src", Map("keep" -> 100, "drop" -> 0))
        .collect().map(_.getLong(0)).toSet
      assert(got == expected && got.nonEmpty && got.forall(_ % 2 == 0))
    } finally q.stop()
  }

  test("StreamNearDup: flags near-dups of a static corpus exactly once across batches") {
    val s = spark
    import s.implicits._
    val refText = "the quick brown fox jumps over the lazy dog again and again today"
    val ref2Text = "completely different reference content about spark shuffle exchanges"
    val corpus = Seq((100L, refText), (200L, ref2Text)).toDF("doc_id", "text")
    // batch parity: same code runs on a static frame
    val batchGot = graft.streaming.StreamNearDup.flagAgainst(
        Seq((1L, refText), (2L, "unrelated words sharing nothing with either")).toDF("doc_id", "text"),
        "doc_id", "text", corpus, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getAs[Number]("matched_id").longValue())).toSet
    assert(batchGot == Set((1L, 100L)))
    // streaming: b1 flags doc 1; b2 re-sends doc 1 (must NOT re-flag) + doc 3
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toFile
    val schema = corpus.schema
    Seq((1L, refText)).toDF("doc_id", "text").write.parquet(dir + "/in/b1")
    val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
    val out = graft.streaming.StreamNearDup.flagAgainst(
      stream, "doc_id", "text", corpus, "doc_id", "text", maxHamming = 0)
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("matched_id").longValue())).toSeq
      assert(got().toSet == Set((1L, 100L)))
      Seq((1L, refText), (3L, ref2Text)).toDF("doc_id", "text")
        .write.parquet(dir + "/in/b2")
      q.processAllAvailable()
      assert(got().toSet == Set((1L, 100L), (3L, 200L)))
      assert(got().size == 2, "cross-batch re-flag of (1,100) must be deduped by state")
    } finally q.stop()
  }

  test("StreamDecontaminate: flags gram collisions with a static bench exactly once") {
    val s = spark
    import s.implicits._
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    val bench = Seq((900L, leak)).toDF("doc_id", "text")
    // batch parity with the batch operator on the same frames
    val docs = Seq(
      (1L, "prefix words " + leak + " suffix words"),
      (2L, "thirteen totally different words that never overlap the benchmark at all here")
    ).toDF("doc_id", "text")
    val batchGot = graft.streaming.StreamDecontaminate.flagAgainst(
        docs, "doc_id", "text", bench, "doc_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchOp = graft.operators.Decontaminate.flagged(
        docs, "doc_id", "text", bench, "doc_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchGot == Set((1L, 900L)) && batchGot == batchOp)
    // streaming: b1 flags doc 1; b2 re-sends doc 1 (must NOT re-flag) + doc 3
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toFile
    Seq((1L, "x " + leak)).toDF("doc_id", "text").write.parquet(dir + "/in/b1")
    val stream = spark.readStream.schema(docs.schema).parquet(dir + "/in/*")
    val out = graft.streaming.StreamDecontaminate.flagAgainst(
      stream, "doc_id", "text", bench, "doc_id", "text", n = 13)
    val q = out.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table("decon_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got().toSet == Set((1L, 900L)))
      Seq((1L, "x " + leak), (3L, leak + " tail")).toDF("doc_id", "text")
        .write.parquet(dir + "/in/b2")
      q.processAllAvailable()
      assert(got().toSet == Set((1L, 900L), (3L, 900L)))
      assert(got().size == 2, "cross-batch re-flag of (1,900) must be deduped by state")
    } finally q.stop()
  }

  test("StreamDedup TTL: expired hashes re-emit; default state never expires") {
    val s = spark
    import s.implicits._
    // Same three-phase sequence under TTL and under the default:
    //   b1: hash A emits;  (wait past TTL)  b2: unrelated hash B — a later
    //   batch fires A's timeout under TTL;  b3: A again
    // TTL ⇒ A re-emits in b3 (state evicted);  default ⇒ A stays dropped.
    // NOTE: with pending processing-time timeouts the engine ALWAYS requires
    // another batch, so processAllAvailable() never observes "no new data" and
    // would hang — the TTL run must POLL the sink instead.
    def ids(name: String) =
      spark.table(s"ttl_$name").collect().map(_.getLong(0)).toSet
    def waitFor(cond: => Boolean, what: String, ms: Long = 30000L): Unit = {
      val end = System.currentTimeMillis + ms
      while (!cond && System.currentTimeMillis < end) Thread.sleep(100)
      assert(cond, s"timed out waiting for: $what")
    }
    def run(name: String, ttlMs: Long): Set[Long] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ttl-$name").toFile
      val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
      Seq((1L, "doc A")).toDF("doc_id", "text").write.parquet(dir + "/in/b1")
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.StreamDedup.firstPerHash(
        stream.toDF(), "doc_id", "text", stateTtlMs = ttlMs)
      val q = out.writeStream.format("memory").queryName(s"ttl_$name")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .start()
      try {
        waitFor(ids(name).contains(1L), s"$name: b1 emit")
        Thread.sleep(math.max(1500L, 3 * ttlMs)) // let any TTL lapse in wall time
        Seq((2L, "doc B")).toDF("doc_id", "text").write.parquet(dir + "/in/b2")
        waitFor(ids(name).contains(2L), s"$name: b2 emit")
        // Poll for A's EVICTION (state drops to B alone) before writing b3 —
        // a fixed sleep raced the timeout batch on loaded boxes: if b3 landed
        // first, still-present state dropped doc 3 and the re-emit never came.
        // With a pending processing-time timeout the engine keeps running
        // batches, so the state metric does advance without new data.
        def stateRows(): Long = {
          val p = q.lastProgress
          if (p == null || p.stateOperators.isEmpty) -1L
          else p.stateOperators(0).numRowsTotal
        }
        if (ttlMs > 0L) waitFor(stateRows() == 1L, s"$name: A evicted from state")
        Seq((3L, "doc A")).toDF("doc_id", "text").write.parquet(dir + "/in/b3")
        if (ttlMs > 0L) waitFor(ids(name).contains(3L), s"$name: b3 re-emit")
        else { q.processAllAvailable() } // NoTimeout engine idles — PAA safe
        ids(name)
      } finally q.stop()
    }
    assert(run("on", 400L) == Set(1L, 2L, 3L), "expired hash must re-emit under TTL")
    assert(run("off", 0L) == Set(1L, 2L), "default NoTimeout state must never expire")
  }

  test("StreamChunkDedup.firstPerChunk: chunk ledger is exactly-once across batches") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstream").toFile
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    // 2-word chunks: doc 1 = [aa bb][cc dd], doc 2 repeats [aa bb] + new [ee ff]
    Seq((1L, "aa bb cc dd"), (2L, "aa bb ee ff"))
      .toDF("doc_id", "text").write.parquet(dir + "/in/b1")
    val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
    val out = graft.streaming.StreamChunkDedup.firstPerChunk(
      stream.toDF(), "doc_id", "text", chunkWords = 2)
    val q = out.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table("chunk_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // [aa bb] credits doc 1 index 0 (min occurrence); 3 distinct chunks total
      assert(got() == Set((1L, 0L), (1L, 1L), (2L, 1L)))
      // batch 2: an already-seen chunk (suppressed) + one new chunk
      Seq((3L, "aa bb gg hh")).toDF("doc_id", "text").write.parquet(dir + "/in/b2")
      q.processAllAvailable()
      assert(got() == Set((1L, 0L), (1L, 1L), (2L, 1L), (3L, 1L)))
    } finally q.stop()

    // batch semantics = every distinct chunk at its min (doc, index) occurrence
    val batchOut = graft.streaming.StreamChunkDedup.firstPerChunk(
        Seq((7L, "aa bb aa bb"), (6L, "aa bb")).toDF("doc_id", "text"),
        "doc_id", "text", chunkWords = 2)
      .collect().map(c => (c.doc_id, c.chunk_index)).toSet
    assert(batchOut == Set((6L, 0L)))
  }
}
