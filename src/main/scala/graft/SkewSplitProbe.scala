package graft

import org.apache.spark.sql.functions._

/**
 * AQE skew-split PROBE for the `skewSafe` star shape (round 17): the
 * CC_SKEW verdict rests on the claim that the join shape's exchanges are
 * ones AQE's OptimizeSkewedJoin CAN split while a window partition never
 * is. This probe makes the capability observable on one box: a pure-star
 * edge set (every edge shares key 0) is pushed through the groupBy-min +
 * join round once with AQE skew thresholds at their defaults and once with
 * thresholds lowered to force the optimizer's hand, and the FINAL adaptive
 * plan is grepped for the skew marker (`skew=true` on the sort-merge join).
 *
 * Expected (and receipt-recorded): with default thresholds (256 MB
 * partition / 5× median) a 4M-row hot key (~64 MB of longs) stays below
 * the trigger locally — the capability is real but the LOCAL fixture is
 * too small, which is consistent with CC_SKEW's measured window-shape win;
 * with lowered thresholds the same plan splits, proving the join shape is
 * eligible where the window shape structurally is not.
 *
 * Run: `tools/run_main.sh SkewSplitProbe [n]` (default 4M edges). Prints
 * one line per configuration: `skew_marker=<bool> tasks=<join stage info>`.
 */
object SkewSplitProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val cpus = GraftSession.cpus(32)
    val receipt = new StringBuilder
    // broadcast would bypass the SMJ under probe — pin the join physical
    def session(extra: Map[String, String]) = GraftSession.builder(cpus, cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1").config(extra).getOrCreate()

    def run(tag: String, extra: Map[String, String]): Unit = {
      val spark = session(extra)
      spark.sparkContext.setLogLevel("ERROR")
      try {
        // one large-star round, join shape, on a pure star: sym has 2n rows,
        // n of them under key 0
        val e = spark.range(1L, n + 1L).select(lit(0L).as("__u"), col("id").as("__v"))
        val sym = e.select(col("__u"), col("__v"))
          .union(e.select(col("__v").as("__u"), col("__u").as("__v")))
        val mins0 = sym.groupBy(col("__u")).agg(min(col("__v")).as("__minv"))
          .select(col("__u"), least(col("__u"), col("__minv")).as("__m"))
        // OptimizeSkewedJoin only matches an SMJ whose children are DIRECT
        // shuffle stages; the min-aggregate reusing its groupBy partitioning
        // sits between the exchange and the join and blocks the rule (an
        // explicit repartition by the same key collapses away — measured).
        // Breaking lineage on the tiny per-key mins relation makes the join
        // plan fresh exchanges on BOTH sides → skew-eligible.
        val mins = if (sys.env.contains("SKEWPROBE_NO_CKPT")) mins0
          else mins0.localCheckpoint()
        val out = sym.join(mins, Seq("__u")).filter(col("__v") > col("__u"))
          .select(col("__v").as("__u"), col("__m").as("__v"))
        // drive THIS QueryExecution's adaptive plan to its final form — a
        // separate action like count() executes a different QueryExecution
        // and leaves this one's AQE plan unfinalized
        val qe = out.queryExecution
        val cnt = qe.executedPlan.execute().count()
        val plan = qe.executedPlan.toString
        val skew = plan.contains("skew=true")
        println(s"[skewprobe] $tag: n=$n rows=$cnt skew_marker=$skew")
        receipt.append(s"""{"case":"star-round","config":"$tag","n":$n,"rows":$cnt,"skew_split":$skew}\n""")
        if (sys.env.contains("SKEWPROBE_DUMP")) println(plan)
      } finally spark.stop()
    }

    // control: a textbook skewed fact⋈dim SMJ (99% of fact rows on one key)
    // — isolates whether a non-split is about OUR star shape or the env
    def runControl(tag: String, extra: Map[String, String]): Unit = {
      val spark = session(extra)
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val fact = spark.range(n).select(
          when(col("id") % 100 < 99, 0L).otherwise(col("id")).as("k"), col("id").as("v"))
        val dim = spark.range(1000L).select(col("id").as("k"), (col("id") * 2).as("w"))
        val out = fact.join(dim, Seq("k")).select(col("v") + col("w"))
        val qe = out.queryExecution
        val cnt = qe.executedPlan.execute().count()
        val plan = qe.executedPlan.toString
        println(s"[skewprobe] control-$tag: rows=$cnt skew_marker=${plan.contains("skew=true")}")
        receipt.append(s"""{"case":"control-fact-dim","config":"$tag","n":$n,"rows":$cnt,"skew_split":${plan.contains("skew=true")}}\n""")
        if (sys.env.contains("SKEWPROBE_DUMP")) println(plan)
      } finally spark.stop()
    }

    run("defaults", Map.empty)
    run("lowered-thresholds", Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2"))
    runControl("lowered-thresholds", Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2"))
    val w = new java.io.PrintWriter("SKEW_SPLIT_PROBE.json", "UTF-8")
    try w.print(receipt) finally w.close()
  }
}
