package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/**
 * Star-contraction SCALE receipt (round 16): measures
 * [[graft.operators.ConnectedComponents.runStar]] — the fused
 * one-window-exchange-per-star formulation — on adversarial CHAIN graphs of
 * growing size, the worst case star contraction exists for (a length-n path
 * has diameter n: plain min-label propagation would need n rounds ≈ 2n
 * shuffles, so it is not even run here; star contraction must close it in
 * O(log² n) rounds). The receipt pins two scale claims:
 *
 *  - ROUNDS grow logarithmically with n (the driver-side loop count — the
 *    only thing that cannot be parallelized away on a real cluster);
 *  - SECONDS/ROUND grows with DATA (healthy — the per-round work is two
 *    window exchanges sized to the edge frame), not with round count.
 *
 * Writes one JSON line per (n, rep) plus a summary to `CC_SCALE.json`.
 * Run: `tools/run_main.sh CCScaleBench [maxN]` (maxN defaults to 4M).
 */
object CCScaleBench {
  def main(args: Array[String]): Unit = {
    val maxN = args.headOption.map(_.toLong).getOrElse(4000000L)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.ConnectedComponents

    val sizes = Seq(100000L, 1000000L, maxN).distinct.filter(_ > 0)
    val out = new StringBuilder
    val summary = new StringBuilder
    sizes.foreach { n =>
      // chain 0-1-2-...-(n-1): one component, diameter n — every node must
      // end labeled 0
      val nodes = spark.range(n).select(col("id"))
      val secs = (1 to 3).map { rep =>
        // per-rep checkpoint: the inter-rep hygiene below unpersists ALL
        // RDD blocks, which would make a shared localCheckpoint
        // unrecomputable; regenerating the (map-only) edge frame is cheap
        // and keeps edge GENERATION out of the measured path
        val edges = spark.range(n - 1)
          .select(col("id").as("a"), (col("id") + 1L).as("b"))
          .localCheckpoint()
        val rounds = new AtomicInteger(0)
        val t0 = System.nanoTime()
        val labels = ConnectedComponents.runStar(nodes, "id", edges, "a", "b",
          maxRounds = 60, onRound = rounds.set)
        val wrong = labels.filter(col("component") =!= 0L).count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(wrong == 0L, s"chain n=$n rep$rep: $wrong nodes mislabeled")
        GraftSession.hygiene(spark)
        out.append(
          f"""{"graph":"chain","n":$n,"rep":$rep,"rounds":${rounds.get},"sec":$sec%.3f}%n""")
        println(f"[ccscale] chain n=$n rep$rep: rounds=${rounds.get} $sec%.3f s")
        (sec, rounds.get)
      }
      val best = secs.map(_._1).min
      val rounds = secs.head._2
      summary.append(
        f"""{"graph":"chain","n":$n,"rounds":$rounds,"best_sec":$best%.3f,"sec_per_round":${best / rounds}%.4f}%n""")
    }
    spark.stop()
    val w = new java.io.PrintWriter("CC_SCALE.json", "UTF-8")
    try { w.print(out); w.print(summary) } finally w.close()
    print(summary)
  }
}
