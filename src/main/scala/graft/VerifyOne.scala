package graft
import graft.GraftSession.jsonString
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
/** Single-query slice of [[Verify]] for fast local iteration:
  * `runMain graft.VerifyOne <sfDir> <outDir> <query...>` writes only the named
  * queries' parquet + an oracle_sql.json restricted to them, so
  * tools/check_correctness.py can gate one operator in seconds. An argument
  * containing `*` is a glob over query names (`'ann_*'` gates the whole
  * family); every argument must match at least one registered query. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifyOne <sfDir> <outDir> <query...>")
    val sfDir = args(0); val outDir = args(1); val patterns = args.drop(2).toSeq
    val registered = SparkEntry.queries.keys.toSeq.sorted
    def matching(p: String): Seq[String] =
      if (!p.contains("*")) registered.filter(_ == p)
      else {
        val re = p.split("\\*", -1).map(Pattern.quote).mkString(".*")
        registered.filter(_.matches(re))
      }
    val unknown = patterns.filter(matching(_).isEmpty)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = patterns.flatMap(matching).distinct
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
