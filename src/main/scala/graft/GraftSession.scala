package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place graft's mains and test suites build a SparkSession, plus the
 * between-query hygiene and the JSON string escape their receipts share.
 *
 * Every session is local mode with one shuffle partition per core, UTC
 * session time, AQE with skew-join splitting, no UI, and
 * `parquet.nanosAsLong` (the fixture's `events.parquet` stores
 * TIMESTAMP(NANOS), which Spark reads only as longs).
 */
object GraftSession {

  /** Cores for a main: `SPARK_GRAFT_CPUS` when set, else the main's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** The shared session builder at `local[cores]`; callers may add confs of
    * their own before `getOrCreate()`. */
  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** A main's session: [[cpus]] cores and as many shuffle partitions. */
  def local(defaultCpus: Int): SparkSession = {
    val n = cpus(defaultCpus)
    builder(n, n).getOrCreate()
  }

  /**
   * Drops everything one query left cached, run between queries outside any
   * timed window. Registered SQL caches would shade later plans, and the
   * RDD-level residue `clearCache()` cannot see (operator `localCheckpoint`s
   * and `persist`s) pins executor blocks until the ContextCleaner collects
   * them, which a large idle heap may never trigger: by query ~80 of a
   * 124-query suite the blocks inflated tail queries 3-5x over their isolated
   * times. A finished query's RDDs are never recomputed, so dropping their
   * truncated-lineage blocks is safe.
   */
  def hygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** `s` as a quoted JSON string: quote, backslash and EVERY control char
    * escaped, so a tab or CR in a query's SQL cannot break a reader's
    * `json.load`. */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
