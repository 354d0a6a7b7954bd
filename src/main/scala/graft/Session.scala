package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup of the mains and the test suites. */
object Session {

  /** A `local[cpus]` session with the graft extensions and one shuffle
    * partition per core. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // rank-limit windows (heads, pages, queue probes) must rewrite to
      // map-side WindowGroupLimits; the default threshold (1000) is below
      // the 8192 queue-probe scan cap (QueueLag.PageSize*PageLimit)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "16384")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
