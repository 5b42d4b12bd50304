package graft

/**
 * Writes `.explain("formatted")` output for named queries to
 * `<outDir>/<query>_<suffix>.txt` — the before/after plan receipts of the
 * optimization rounds (plans/r17/...). Runs the Bench session shape
 * (local[32], shuffle.partitions=32, AQE on) so the captured plans are the
 * ones the driver's bench actually executes.
 *
 * Usage: tools/run_main.sh DumpPlans <outDir> <suffix> <query> [query...]
 */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpPlans <outDir> <suffix> <query> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
      try {
        w.println(s"== $name ($suffix) @ $sfDir ==")
        w.println(plan)
      } finally w.close()
      // some query constructors persist intermediates; leaking them across
      // dumps would change later queries' plans (InMemoryRelation nodes)
      GraftSession.hygiene(spark)
      println(s"[plans] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
