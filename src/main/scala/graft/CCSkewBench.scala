package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/**
 * Star-contraction SKEW receipt (round 17, closing the r16 ADVICE low): the
 * fused one-window-exchange star shape puts a component root's ENTIRE edge
 * neighborhood into one window partition — WindowExec spills, but AQE cannot
 * split a window partition, so a MEGACOMPONENT serializes its per-round sort
 * into a single task. The `skewSafe` join shape (groupBy-min + join) pays a
 * second exchange but both its exchanges are AQE-splittable.
 *
 * Fixture: a "broom" — one hub with n/2 direct leaves (the megacomponent
 * funnel: after round 1 everything points at the hub key) PLUS an n/2-long
 * chain hanging off the hub (forces multiple rounds, so the skewed window
 * is paid repeatedly, as a real dedup megacluster would pay it). One
 * component; every node must label 0.
 *
 * Reported per (n, shape): rounds, per-rep seconds, best. The scale claim
 * being pinned: as the hub's share of all edges grows, the window shape's
 * time is bounded below by ONE task sorting ~n rows per round, while the
 * join shape shards that key across tasks — locally (32 threads) the gap is
 * the single-task sort vs shuffle overhead trade; on a 1000-executor
 * cluster the window shape cannot use more than one core for the
 * megacomponent regardless of cluster size, which is the difference between
 * O(n/cores) and O(n) per round.
 *
 * Writes per-rep JSON lines + a summary to `CC_SKEW.json`.
 * Run: `tools/run_main.sh CCSkewBench [maxN] [fixtureFilter] [out]` (maxN
 * defaults to 4M edges; `fixtureFilter` restricts to "broom"/"star" for
 * targeted receipts — r18 uses `star <n> CC_SKEW_CPUS{8,32}.json` at two
 * core counts so receipt runs never clobber the r17 receipt of record).
 *
 * MEASURED VERDICT (r17, local[32], receipt of record in CC_SKEW.json,
 * taken AFTER the mins lineage-cut that makes the join shape actually
 * skew-eligible — see SkewSplitProbe): the fused WINDOW shape wins every
 * local fixture — broom 4M 55.8 vs 146.9 s, pure star 8M (one key carrying
 * ALL edges) 25.8 vs 68.8 s — because a single-task in-memory sort of a few
 * million longs is cheap on one box while the eligible join shape pays a
 * second full exchange, SMJ sorts of both sides AND the per-round
 * materialization of the ~one-row-per-node mins frames (the price of being
 * a shape OptimizeSkewedJoin can match at all; left lazy it never fires —
 * probed). So `skewSafe=false` stays the default everywhere; the join shape
 * is CLUSTER insurance at a measured ~2.1-2.7× local cost: it is the only
 * shape whose megacomponent work can use more than one core — on 1000
 * executors the window shape's giant-key round cost is O(n) serial
 * regardless of cluster size, the join shape's is O(n/cores) — and its
 * memory is distributed too (the 16M-key star OOM'd ONE JVM on the mins
 * blocks, while the same frames spread across a cluster's executors).
 */
object CCSkewBench {
  def main(args: Array[String]): Unit = {
    val maxN = args.headOption.map(_.toLong).getOrElse(4000000L)
    val fixtureFilter = if (args.length > 1) Some(args(1)) else None
    val outPath = if (args.length > 2) args(2) else "CC_SKEW.json"
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.ConnectedComponents

    val out = new StringBuilder
    val summary = new StringBuilder
    // fixtures: "broom" = hub with n/2 leaves + n/2 chain (many rounds —
    // measures the skewed window paid repeatedly vs the join's extra
    // exchange per round); "star" = hub with n leaves, the INVERTED worst
    // case (2-3 rounds, one giant key — isolates the single-task sort the
    // window shape cannot shard from the round-count trade)
    // star capped at 2×maxN: the join shape's per-round mins materialization
    // is ~one row per node, and at 16M keys the deserialized checkpoint
    // blocks exceeded this box's single-JVM heap (measured OOM) — at cluster
    // scale that memory is distributed across executors, which is the very
    // asymmetry the receipt exists to document
    val fixtures: Seq[(String, Long)] =
      Seq(("broom", 1000000L), ("broom", maxN), ("star", maxN), ("star", 2 * maxN))
        .filter { case (g, _) => fixtureFilter.forall(_ == g) }
        .distinct
    fixtures.foreach { case (graph, n) =>
      val nodes = spark.range(n + 1).select(col("id"))
      Seq(false, true).foreach { skewSafe =>
        val shape = if (skewSafe) "join" else "window"
        val reps = (1 to 3).map { rep =>
          val half = n / 2
          val edges = (if (graph == "star")
            spark.range(1L, n + 1L).select(lit(0L).as("a"), col("id").as("b"))
          else
            spark.range(1L, half + 1L).select(lit(0L).as("a"), col("id").as("b"))
              .unionByName(spark.range(half, n)
                .select(col("id").as("a"), (col("id") + 1L).as("b")))
          ).localCheckpoint()
          val rounds = new AtomicInteger(0)
          val t0 = System.nanoTime()
          val labels = ConnectedComponents.runStar(nodes, "id", edges, "a", "b",
            maxRounds = 60, onRound = rounds.set, skewSafe = skewSafe)
          val wrong = labels.filter(col("component") =!= 0L).count()
          val sec = (System.nanoTime() - t0) / 1e9
          require(wrong == 0L, s"$graph n=$n $shape rep$rep: $wrong mislabeled")
          GraftSession.hygiene(spark)
          out.append(
            f"""{"graph":"$graph","n":$n,"shape":"$shape","rep":$rep,"rounds":${rounds.get},"sec":$sec%.3f}%n""")
          println(f"[ccskew] $graph n=$n $shape rep$rep: rounds=${rounds.get} $sec%.3f s")
          (sec, rounds.get)
        }
        val best = reps.map(_._1).min
        summary.append(
          f"""{"graph":"$graph","n":$n,"shape":"$shape","rounds":${reps.head._2},"best_sec":$best%.3f}%n""")
      }
    }
    spark.stop()
    val w = new java.io.PrintWriter(outPath, "UTF-8")
    try { w.print(out); w.print(summary) } finally w.close()
    print(summary)
  }
}
