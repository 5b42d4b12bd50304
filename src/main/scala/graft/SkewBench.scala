package graft

import graft.operators.Dedup

/**
 * Skew-stress receipt for the span/gram family (VERDICT r8 #5): a
 * pathological corpus where ONE document body is repeated across a large
 * fraction of the corpus — the worst case for any pair-join dedup design
 * (candidate pairs grow as copies², and every pair lands on one gram key).
 * The gram-IDENTITY aggregate (`Dedup.duplicateSpans`) has no pair join: its
 * cost is the gram relation itself, so wall time must scale ~linearly in the
 * number of copies.
 *
 * Prints one JSON line per scale plus a final ratio line; writes the same
 * lines to SKEW_BENCH.json at the repo root (per-round receipt). A scale-up
 * of copies by 4x should cost ~4x (linear), NOT ~16x (quadratic) — the
 * printed `ratio4x` is the receipt.
 */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ~1000-char hot body (deterministic), plus per-doc unique tails so docs
    // are not byte-identical (exact dedup would catch those; the span family
    // must handle shared PASSAGES inside distinct docs).
    val hotBody = (0 until 25).map(i => s"the quick brown fox $i jumps over the lazy dog").mkString(" ")
    def corpus(copies: Int) = (0 until copies).map { i =>
      (i.toLong, s"unique preamble $i $hotBody unique tail $i")
    }.toDF("doc_id", "text")

    def time(copies: Int): (Double, Long) = {
      val df = corpus(copies)
      df.count() // materialize input outside the timed window
      val t0 = System.nanoTime()
      val n = Dedup.duplicateSpans(df, "doc_id", "text", k = 20).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    time(500) // warmup: JIT + codegen for the whole plan shape
    val scales = Seq(2000, 8000)
    val results = scales.map { c =>
      val best = (1 to 2).map(_ => time(c)).minBy(_._1)
      (c, best._1, best._2)
    }
    val ratio = results.last._2 / results.head._2
    val lines = results.map { case (c, t, n) =>
      f"""{"bench":"skew-hot-doc","copies":$c,"sec":$t%.3f,"spans":$n}"""
    } :+ f"""{"bench":"skew-hot-doc","scale_up":4,"ratio4x":$ratio%.2f,"linear_bound":8.0}"""
    lines.foreach(println)
    try {
      val w = new java.io.PrintWriter("SKEW_BENCH.json", "UTF-8")
      try lines.foreach(w.println) finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
