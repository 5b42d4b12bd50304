package graft

/** Single-query micro-bench: `runMain graft.BenchOne <name> [reps]` on
  * SPARK_GRAFT_SF_DIR — repeats the registered query and prints per-rep seconds,
  * for isolating one query's cost from full-suite noise. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/part.parquet").count()
    catch { case _: Throwable => () }
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[benchone] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      GraftSession.hygiene(spark)
    }
    spark.stop()
  }
}
