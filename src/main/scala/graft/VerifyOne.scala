package graft
import graft.GraftSession.jsonString
import java.nio.file.{Files, Paths}
/** Single-query slice of [[Verify]] for fast local iteration:
  * `runMain graft.VerifyOne <sfDir> <outDir> <query...>` writes only the named
  * queries' parquet + an oracle_sql.json restricted to them, so
  * tools/check_correctness.py can gate one operator in seconds. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifyOne <sfDir> <outDir> <query...>")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      GraftSession.hygiene(spark)
    }
    val json = SparkEntry.oracleSql.view.filterKeys(names.contains)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
