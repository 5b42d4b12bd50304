package graft
import graft.GraftSession.jsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Default to the real core count (capped — sf0.01 shards are tiny, more
    // threads past 16 is pure scheduler overhead): the driver may not export
    // SPARK_GRAFT_CPUS, and a 4-thread default doubles the gate's wall time
    // at a 200-query board.
    val spark = GraftSession.local(math.min(Runtime.getRuntime.availableProcessors, 16))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump the oracle map FIRST: if the run is killed mid-board (the round-9
    // driver gate came back empty `{}`), every query already written is still
    // comparable instead of the whole round's correctness zeroing out.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val t00 = System.nanoTime()
    SparkEntry.queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs " +
          f"(total ${(System.nanoTime() - t00) / 1e9}%.0fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftSession.hygiene(spark)
    }
    spark.stop()
  }
}
