package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump the formatted physical plan of driver-gate queries.
  * `sbt "runMain graft.Explain sp23_nps cr1_orset_fold"` (sf0.001 inputs;
  * override with SPARK_GRAFT_SF_DIR to see scale-dependent plan choices). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(4)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
      graft.Caches.release()
    }
  }
}
