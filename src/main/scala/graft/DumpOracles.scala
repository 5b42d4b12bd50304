package graft
import java.nio.file.{Files, Paths}
import graft.GraftSession.jsonString
/** Writes SparkEntry.oracleSql as JSON (no Spark session) so tooling can
  * lint every oracle's DuckDB result types without running the board. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracles.json"
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${SparkEntry.oracleSql.size} oracles to $out")
  }
}
