package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Hot-KEY stress receipt for the window-based dup marking (r18, VERDICT r17
 * item 3 / ADVICE r17): r17 replaced aggregate + join-back distinct-doc
 * counts with windows over ONE hash(key) exchange
 * ([[graft.operators.Dedup]]'s `withDistinctIdCount` family). A window
 * partition cannot be split by AQE, so a boilerplate gram/line/digest
 * present in a large row fraction serializes one reducer — the r17
 * `SKEW_BENCH.json` only stressed hot DOCUMENTS (many keys), not one hot
 * KEY.
 *
 * Fixture: `nDocs` docs of `linesPerDoc` lines each; every doc shares ONE
 * boilerplate line (the hot key, 1/linesPerDoc of all rows — 10% at the
 * default 10), all other lines globally unique. Measures
 * [[graft.operators.Dedup.paragraphDedup]] (the window shape) against an
 * inline replica of the pre-r17 aggregate + broadcast-join-back shape, at
 * the session's core count — run twice with SPARK_GRAFT_CPUS=32 and =8 for
 * the scale-sensitivity pair. Timing-only: the replica's outputs were the
 * r16 oracle contract, and the current shape is oracle-pinned at both SFs.
 *
 * Usage: tools/run_main.sh HotKeyBench [nDocs] [linesPerDoc] [reps] [out.json]
 */
object HotKeyBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 200000
    val linesPerDoc = if (args.length > 1) args(1).toInt else 10
    val reps = if (args.length > 2) args(2).toInt else 3
    val outPath = if (args.length > 3) args(3) else "HOTKEY_BENCH.json"
    // "hot" (default): one boilerplate line in every doc — 1/linesPerDoc of
    // all rows in ONE key. "unique": same volume, no shared line — the
    // control that attributes the window-vs-aggjoin gap to the hot key
    // rather than to the window form itself.
    val mode = if (args.length > 4) args(4) else "hot"
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // one boilerplate line everywhere + unique filler lines per doc
    // (mode=unique: the boilerplate slot becomes one more unique line)
    val firstLine =
      if (mode == "unique") concat(lit("unique line 0 of doc "), col("id"))
      else lit("COPYRIGHT BOILERPLATE NAVIGATION FOOTER")
    val docs = spark.range(0L, nDocs.toLong, 1L, 32).select(col("id").as("doc_id"),
      concat_ws("\n",
        (Seq(firstLine) ++
          (1 until linesPerDoc).map(i =>
            concat(lit(s"unique line $i of doc "), col("id")))): _*).as("text"))
      .localCheckpoint(true) // fixture cost out of both timed shapes

    // noop sink (guide §1.4), NOT count(): count lets the optimizer prune
    // the unused aggregate columns — and with them the very window / join
    // under test (a left join on a unique key is join-eliminated once its
    // columns are pruned).
    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // current shape: windows over one hash(line-digest) exchange
    def windowShape(): DataFrame =
      graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text", 2)
    // pre-r17 shape: distinct-doc counts per digest as an aggregate, dup
    // digests broadcast-joined back onto the line relation (AQE-splittable /
    // map-side-combined — the shape ADVICE r17 suggests as a skewSafe knob)
    def aggJoinShape(): DataFrame = {
      val lines = docs
        .where(col("text").isNotNull)
        .select(col("doc_id").as("__id"),
          posexplode(split(col("text"), "\n")).as(Seq("__p", "__ln")))
        .filter(length(col("__ln")) > 0)
        .withColumn("__h", md5(col("__ln")))
      val dupKeys = lines.groupBy(col("__h"))
        .agg(countDistinct(col("__id")).as("__nd"))
        .filter(col("__nd") >= 2)
        .select(col("__h"), lit(1L).as("__dup"))
      lines.join(broadcast(dupKeys), Seq("__h"), "left")
        .groupBy(col("__id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_cut"))
    }

    val res = (1 to reps).map { r =>
      val w = time(windowShape())
      val a = time(aggJoinShape())
      println(f"[hotkey] rep$r window=$w%.3f s aggjoin=$a%.3f s")
      (w, a)
    }
    val line =
      s"""{"bench":"hotkey_window_vs_aggjoin","mode":"$mode","cpus":${spark.sparkContext.defaultParallelism},"n_docs":$nDocs,""" +
      s""""lines_per_doc":$linesPerDoc,"hot_row_fraction":${if (mode == "unique") 0.0 else 1.0 / linesPerDoc},""" +
      s""""window_sec":[${res.map(r => f"${r._1}%.3f").mkString(",")}],""" +
      s""""aggjoin_sec":[${res.map(r => f"${r._2}%.3f").mkString(",")}]}"""
    println(line)
    val w = new java.io.PrintWriter(outPath, "UTF-8")
    try w.println(line) finally w.close()
    spark.stop()
  }
}
