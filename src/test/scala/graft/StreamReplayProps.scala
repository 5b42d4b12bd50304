package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Replay-determinism properties for the stateful streaming operators: the
 * SAME input event set, delivered in DIFFERENT micro-batch arrival orders,
 * must produce the same committed output. This is the contract a replayed
 * (or backfilled) source hands a production sink — micro-batch boundaries are
 * an accident of arrival, not part of the result.
 *
 * - [[graft.streaming.Sessionize.sessionsStream]]: the watermark covers the
 *   full disorder, so session_window state merges out-of-order fragments and
 *   every replay emits identical (user, session_start, n_events, sum_value)
 *   rows.
 * - [[graft.streaming.StreamDedup.firstPerHash]]: WHICH doc id is canonical
 *   legitimately depends on arrival (first batch wins — documented), so the
 *   replay-invariant is the exactly-once contract: every distinct content
 *   hash emits exactly ONCE, the same hash set every replay, and each
 *   emitted id is one of that hash's candidate ids.
 */
class StreamReplayProps extends AnyFunSuite with LocalSpark {

  /** Deterministic Fisher–Yates shuffle (no Math.random — replayable). */
  private def shuffled[T: scala.reflect.ClassTag](xs: Vector[T], seed: Long): Vector[T] = {
    val a = xs.toArray
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state >>> 16 }
    var i = a.length - 1
    while (i > 0) {
      val j = (next() % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }

  test("sessionsStream: shuffled micro-batch arrival replays to identical sessions") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    // 3 users x interleaved sessions, whole-second events, gaps > 10 min
    // split sessions; all events inside one day so a 1-day watermark means
    // nothing is late-dropped in any arrival order.
    val events = (for {
      u <- 1L to 3L
      sess <- 0 until 3
      i <- 0 until 4
    } yield {
      val base = 3600L * (1 + sess * 2) + u * 120 // session starts, per user
      (u, u * 1000 + sess * 10 + i,
        new Timestamp((1704067200L + base + i * 60) * 1000L), // 2024-01-01 UTC + offset
        1.5 + i)
    }).toVector

    def run(order: Vector[(Long, Long, Timestamp, Double)], tag: String): Set[(Long, String, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-replay-$tag").toFile
      val schema = order.take(1).toDF("user_id", "event_id", "ts", "value").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.Sessionize.sessionsStream(
        stream.toDF(), "10 minutes", watermark = "1 day")
      val q = out.writeStream.format("memory").queryName(s"replay_$tag")
        .outputMode("append").start()
      try {
        // deliver in 4 micro-batches of the given order
        order.grouped((order.size + 3) / 4).zipWithIndex.foreach { case (chunk, bi) =>
          chunk.toDF("user_id", "event_id", "ts", "value")
            .write.parquet(dir + s"/in/b$bi")
          q.processAllAvailable()
        }
        // flush: two far-future batches advance the watermark past every real
        // session (emission happens the micro-batch AFTER the advance)
        Seq((99L, 1L, new Timestamp((1704067200L + 10 * 86400L) * 1000L), 0.0))
          .toDF("user_id", "event_id", "ts", "value").write.parquet(dir + "/in/flush1")
        q.processAllAvailable()
        Seq((99L, 2L, new Timestamp((1704067200L + 11 * 86400L) * 1000L), 0.0))
          .toDF("user_id", "event_id", "ts", "value").write.parquet(dir + "/in/flush2")
        q.processAllAvailable()
        spark.table(s"replay_$tag").filter(col("user_id") < 99L)
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
          .toSet
      } finally q.stop()
    }

    val a = run(events, "a")
    val b = run(shuffled(events, seed = 12345L), "b")
    val c = run(shuffled(events, seed = 98765L), "c")
    assert(a.nonEmpty, "no sessions emitted — flush/watermark harness broken")
    assert(a.map(_._1) == Set(1L, 2L, 3L))
    assert(b == a, "shuffled replay b diverged from in-order run")
    assert(c == a, "shuffled replay c diverged from in-order run")
    // 3 sessions x 3 users, 4 events each — the gap split itself is stable
    assert(a.size == 9 && a.forall(_._3 == 4L))
  }

  test("firstPerHash: every replay emits each content hash exactly once") {
    val s = spark
    import s.implicits._
    // 12 docs over 5 distinct texts; duplicate ids spread across batches
    val docs = Vector(
      (10L, "alpha"), (11L, "beta"), (12L, "gamma"), (13L, "alpha"),
      (14L, "delta"), (15L, "beta"), (16L, "alpha"), (17L, "epsilon"),
      (18L, "gamma"), (19L, "delta"), (20L, "epsilon"), (21L, "beta"))
    val byText = docs.groupBy(_._2).map { case (t, xs) => (t, xs.map(_._1).toSet) }

    def run(order: Vector[(Long, String)], tag: String): Seq[(Long, String)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-dreplay-$tag").toFile
      val schema = order.take(1).toDF("doc_id", "text").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.StreamDedup.firstPerHash(stream.toDF(), "doc_id", "text")
      val q = out.writeStream.format("memory").queryName(s"dreplay_$tag")
        .outputMode("append").start()
      try {
        order.grouped(3).zipWithIndex.foreach { case (chunk, bi) =>
          chunk.toDF("doc_id", "text").write.parquet(dir + s"/in/b$bi")
          q.processAllAvailable()
        }
        spark.table(s"dreplay_$tag").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      } finally q.stop()
    }

    val md5Of = docs.map(_._2).distinct
      .map(t => t -> java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString).toMap

    Seq(0L, 4242L, 777777L).foreach { seed =>
      val order = if (seed == 0L) docs else shuffled(docs, seed)
      val got = run(order, s"s$seed")
      // exactly one emission per distinct hash, same hash set every replay
      assert(got.size == byText.size, s"seed=$seed: ${got.size} emissions for ${byText.size} hashes")
      assert(got.map(_._2).toSet == md5Of.values.toSet, s"seed=$seed: hash set diverged")
      // the emitted id is one of that text's candidate ids
      val hashToText = md5Of.map(_.swap)
      got.foreach { case (id, h) =>
        assert(byText(hashToText(h)).contains(id), s"seed=$seed: id $id not a candidate for $h")
      }
    }
  }

  test("StreamDecay.scores: shuffled arrival replays to identical final scores") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    // 3 users x 8 events over 9 days; per-event contributions commute, so
    // the FINAL per-user (n, cents) must be arrival-order-invariant.
    val events = (for {
      u <- 1L to 3L
      i <- 0 until 8
    } yield (u * 100 + i, u,
      new Timestamp((1704067200L + (i.toLong * 86400L + u * 3600L)) * 1000L),
      1.0 + u * 0.5 + i)).toVector
    val anchor = java.sql.Date.valueOf("2024-01-08") // = max event day (UTC)

    def run(order: Vector[(Long, Long, Timestamp, Double)], tag: String): Map[Long, (Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-decay-$tag").toFile
      val schema = order.take(1).toDF("event_id", "user_id", "ts", "value").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.StreamDecay.scores(
        stream.toDF(), "user_id", "value", anchor, halfLifeDays = 2)
      val q = out.toDF().writeStream.format("memory").queryName(s"decay_$tag")
        .outputMode("append").start()
      try {
        order.grouped((order.size + 3) / 4).zipWithIndex.foreach { case (chunk, bi) =>
          chunk.toDF("event_id", "user_id", "ts", "value").write.parquet(dir + s"/in/b$bi")
          q.processAllAvailable()
        }
        // final totals = the emission with the highest running n per user
        spark.table(s"decay_$tag").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).maxBy(_._1) }
      } finally q.stop()
    }

    val a = run(events, "a")
    val b = run(shuffled(events, seed = 31337L), "b")
    assert(a.keySet == Set(1L, 2L, 3L) && a.values.forall(_._1 == 8L))
    assert(b == a, "shuffled replay diverged from in-order run")
    // ...and the stream's final state equals the batch op at the same anchor
    val batch = graft.operators.EventStats.decayedEngagement(
        events.toDF("event_id", "user_id", "ts", "value"), "user_id", "value",
        halfLifeDays = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(batch == a, "stream final state diverged from the batch op")
  }

  test("StreamChunkDedup.firstPerChunk: every replay emits each chunk hash exactly once") {
    val s = spark
    import s.implicits._
    // 8 docs over a small word pool with chunkWords=2: repeated two-word
    // chunks collide across docs and across batches; some docs contribute
    // several chunks. The EMITTED (doc, index) per hash is arrival-dependent
    // (first-seen wins); the LEDGER — one emission per distinct chunk hash,
    // same hash set — must be arrival-order-invariant.
    val docs = Vector(
      (1L, "red fox red fox"),            // chunks: "red fox" x2 -> 1 distinct
      (2L, "blue owl red fox"),           // "blue owl", "red fox"
      (3L, "red fox blue owl"),           // "red fox", "blue owl"
      (4L, "green ant blue owl green ant"), // "green ant", "blue owl", "green" (tail)
      (5L, "blue owl"),
      (6L, "green ant"),
      (7L, "red fox green ant"),
      (8L, "owl blue"))                   // order matters: new chunk "owl blue"

    def run(order: Vector[(Long, String)], tag: String): Seq[(Long, Long, String)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-creplay-$tag").toFile
      val schema = order.take(1).toDF("doc_id", "text").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.StreamChunkDedup.firstPerChunk(
        stream.toDF(), "doc_id", "text", chunkWords = 2)
      val q = out.writeStream.format("memory").queryName(s"creplay_$tag")
        .outputMode("append").start()
      try {
        order.grouped(2).zipWithIndex.foreach { case (chunk, bi) =>
          chunk.toDF("doc_id", "text").write.parquet(dir + s"/in/b$bi")
          q.processAllAvailable()
        }
        spark.table(s"creplay_$tag").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      } finally q.stop()
    }

    // ground truth: the distinct chunk strings of the whole corpus, and per
    // chunk the set of (doc, index) sites it occurs at
    def chunksOf(t: String): Seq[(Long, String)] = {
      val ws = "[a-z]+".r.findAllIn(t.toLowerCase).toVector
      ws.grouped(2).zipWithIndex.map { case (g, i) => (i.toLong, g.mkString(" ")) }
        .toSeq.map { case (i, c) => (i, c) }
    }
    val sites: Map[String, Set[(Long, Long)]] = docs
      .flatMap { case (id, t) => chunksOf(t).map { case (i, c) => (c, (id, i)) } }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    val md5Of = sites.keySet
      .map(c => c -> java.security.MessageDigest.getInstance("MD5")
        .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString).toMap

    Seq(0L, 4242L, 777777L).foreach { seed =>
      val order = if (seed == 0L) docs else shuffled(docs, seed)
      val got = run(order, s"s$seed")
      assert(got.size == sites.size,
        s"seed=$seed: ${got.size} emissions for ${sites.size} distinct chunks")
      assert(got.map(_._3).toSet == md5Of.values.toSet, s"seed=$seed: hash set diverged")
      // every emitted occurrence is a genuine site of that chunk
      val hashToChunk = md5Of.map(_.swap)
      got.foreach { case (id, i, h) =>
        assert(sites(hashToChunk(h)).contains((id, i)),
          s"seed=$seed: ($id,$i) is not a site of chunk '${hashToChunk(h)}'")
      }
    }
  }

  test("StreamIvfAssign: any micro-batch split replays to the batch-face output") {
    val s = spark
    import s.implicits._
    // train slice (ids 0-7) fixes the quantizer; the "crawl stream" (ids
    // 100+) includes an ineligible zero-norm row that must vanish silently
    val train = (0L until 8L).map { i =>
      val d = (i % 4).toInt
      (i, Seq.tabulate(4)(j => if (j == d) 1f else 0.1f * ((i + j) % 3)))
    }.toDF("vec_id", "embedding")
    val ivf = graft.operators.SimSearch.ivfTrainModel(
      train, "vec_id", "embedding", nList = 3, nIters = 1)
    val crawl = (100L until 124L).map { i =>
      val d = (i % 4).toInt
      (i, Seq.tabulate(4)(j => if (j == d) 0.9f else 0.05f * ((i + j) % 4)))
    }.toVector :+ (999L, Seq(0f, 0f, 0f, 0f))
    val batchFace = graft.streaming.StreamIvfAssign.assign(
        crawl.toDF("vec_id", "embedding"), "vec_id", "embedding", ivf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchFace.nonEmpty && !batchFace.exists(_._1 == 999L))

    def run(order: Vector[(Long, Seq[Float])], tag: String, nBatches: Int)
        : Set[(Long, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ivf-$tag").toFile
      val schema = order.take(1).toDF("vec_id", "embedding").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.StreamIvfAssign.assign(
        stream.toDF(), "vec_id", "embedding", ivf)
      val q = out.writeStream.format("memory").queryName(s"ivf_$tag")
        .outputMode("append").start()
      try {
        order.grouped((order.size + nBatches - 1) / nBatches).zipWithIndex.foreach {
          case (chunk, bi) =>
            chunk.toDF("vec_id", "embedding").write.parquet(dir + s"/in/b$bi")
            q.processAllAvailable()
        }
        spark.table(s"ivf_$tag").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    }

    // stateless stream-static assignment: one batch, many batches, shuffled
    // arrival — every split replays to exactly the batch-face rows
    assert(run(crawl, "one", 1) == batchFace)
    assert(run(crawl, "five", 5) == batchFace)
    assert(run(shuffled(crawl, 31337L), "shuf", 4) == batchFace)
  }

  test("StreamScrub: any micro-batch split replays to the batch-face output") {
    val s = spark
    import s.implicits._
    val docs = Vector(
      (1L, "plain text no pii at all"),
      (2L, "mail a@b.com then  see https://x.org/y?q=1 now"),
      (3L, "call 555-010-0042\tand\nagain 555-010-0042"),
      (4L, "  leading and trailing   spaces  "),
      (5L, "url http://e.com/p and mail u.v@w.io and 555-123-4567"))
    val batchFace = graft.streaming.StreamScrub.scrub(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(batchFace.map(_._1) == docs.map(_._1).toSet)
    assert(batchFace.find(_._1 == 2L).get._2 == 2L) // one email + one url

    def run(order: Vector[(Long, String)], tag: String, nBatches: Int)
        : Set[(Long, Long, String)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-scrub-$tag").toFile
      val schema = order.take(1).toDF("doc_id", "text").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/in/*")
      val out = graft.streaming.StreamScrub.scrub(stream.toDF(), "doc_id", "text")
      val q = out.writeStream.format("memory").queryName(s"scrub_$tag")
        .outputMode("append").start()
      try {
        order.grouped((order.size + nBatches - 1) / nBatches).zipWithIndex.foreach {
          case (chunk, bi) =>
            chunk.toDF("doc_id", "text").write.parquet(dir + s"/in/b$bi")
            q.processAllAvailable()
        }
        spark.table(s"scrub_$tag").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      } finally q.stop()
    }

    assert(run(docs, "one", 1) == batchFace)
    assert(run(docs, "three", 3) == batchFace)
    assert(run(shuffled(docs, 4242L), "shuf", 2) == batchFace)
  }
}
