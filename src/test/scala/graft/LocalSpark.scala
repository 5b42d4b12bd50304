package graft

import org.apache.spark.sql.SparkSession

/** The test suites' session: [[GraftSession]]'s builder at 4 cores and 4
  * shuffle partitions, whatever `SPARK_GRAFT_CPUS` says. Suites share the
  * JVM's one session; each suite's `getOrCreate` re-applies the shared SQL
  * confs to it. */
trait LocalSpark {
  lazy val spark: SparkSession = GraftSession.builder(4, 4).getOrCreate()

  /** Runs `body` with the given SQL confs set, then restores each one's prior
    * value, or unsets it when it had none. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
