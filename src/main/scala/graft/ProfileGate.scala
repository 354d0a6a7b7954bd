package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev profiling main (optimization guide §1.1 "empirical" loop, headless):
  * runs each named gate twice untimed (JIT/codegen/footer warm-up, mirroring
  * Bench's protocol), then once instrumented, and prints a per-stage table —
  * wall time, task count, executor run time, input rows and bytes, shuffle
  * bytes — so the expensive stage and its cost class (compute vs shuffle vs
  * scheduling) are visible without the UI. The header line also counts the
  * instrumented run's Spark jobs and generated-code compiles (the delta of
  * Spark's `CodegenMetrics.METRIC_COMPILATION_TIME` count), so a warm gate
  * that still compiles classes shows it, and the rows its scans read (the
  * sum of the stages' `inputMetrics.recordsRead`). That compile count
  * depends on what ran before in the JVM: Spark's codegen cache holds 100
  * classes, so earlier gates may have evicted this gate's. The header's
  * `repeatCompiles` is the compiles of one more identical call right after
  * the instrumented one, whose classes are then the most recent in the
  * cache; it counts what the gate compiles on every call (sources that
  * differ per call), and does not depend on what ran before in the JVM.
  * Dev-only; never part of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     java -cp ... graft.ProfileGate us3_subject_merge dd17_canonical_pick
  */
object ProfileGate {

  private case class St(name: String, var wallMs: Long = 0, var tasks: Int = 0,
      var runMs: Long = 0, var cpuMs: Long = 0, var shReadMB: Double = 0,
      var shWriteMB: Double = 0, var inputMB: Double = 0, var inputRows: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val stages = mutable.LinkedHashMap[Int, St]()
    // the instrumented run and the drain marker run in their own job groups;
    // the listener keys stages by their job's group, so events it handles
    // after the run ends still count
    val Recorded = "profile-gate"
    val Drain = "profile-gate-drain"
    val recordedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    var jobs = 0
    var drained = new java.util.concurrent.CountDownLatch(1)
    val drainJobs = mutable.Set[Int]()
    def group(e: SparkListenerJobStart): String =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = group(e) match {
        case Recorded => jobs += 1; e.stageIds.foreach(recordedStages.add)
        case Drain => drainJobs += e.jobId
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (drainJobs.remove(e.jobId)) drained.countDown()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (recordedStages.contains(sc.stageInfo.stageId)) {
          val si = sc.stageInfo
          val st = St(si.name.takeWhile(_ != '\n'))
          st.wallMs = (for (a <- si.submissionTime; b <- si.completionTime)
            yield b - a).getOrElse(0L)
          st.tasks = si.numTasks
          val m = si.taskMetrics
          st.runMs = m.executorRunTime
          st.cpuMs = m.executorCpuTime / 1000000L
          st.shReadMB = m.shuffleReadMetrics.totalBytesRead / 1e6
          st.shWriteMB = m.shuffleWriteMetrics.bytesWritten / 1e6
          st.inputMB = m.inputMetrics.bytesRead / 1e6
          st.inputRows = m.inputMetrics.recordsRead
          stages(si.stageId) = st
        }
    })

    for (name <- args) {
      val q = SparkEntry.queries(name)
      // two warm passes (Bench's steady-state protocol)
      (1 to 2).foreach { _ => q(spark, sfDir).count(); graft.Caches.release() }
      stages.clear(); recordedStages.clear(); jobs = 0
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.setJobGroup(Recorded, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val n = try q(spark, sfDir).count() finally spark.sparkContext.clearJobGroup()
      val dt = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      graft.Caches.release()
      // wait until the listener has handled every event of the run
      drained = new java.util.concurrent.CountDownLatch(1)
      spark.sparkContext.setJobGroup(Drain, "drain", interruptOnCancel = false)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      drained.await(60, java.util.concurrent.TimeUnit.SECONDS)
      val repeat0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try q(spark, sfDir).count() finally graft.Caches.release()
      val repeatCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - repeat0
      val byId = stages.toSeq.sortBy(_._1)
      val inputRows = byId.map(_._2.inputRows).sum
      println(f"===== $name%s rows=$n%d wall=$dt%.3f s  jobs=$jobs%d  stages=${stages.size}%d  compiles=$compiles%d  repeatCompiles=$repeatCompiles%d  inRows=$inputRows%d =====")
      println(f"${"stageId"}%8s ${"wallMs"}%7s ${"tasks"}%5s ${"runMs"}%7s ${"cpuMs"}%7s ${"inRows"}%10s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
      for ((id, s) <- byId)
        println(f"$id%8d ${s.wallMs}%7d ${s.tasks}%5d ${s.runMs}%7d ${s.cpuMs}%7d ${s.inputRows}%10d ${s.inputMB}%8.1f ${s.shReadMB}%8.1f ${s.shWriteMB}%8.1f  ${s.name}%s")
      val sumWall = byId.map(_._2.wallMs).sum
      println(f"   total stage wall = $sumWall%d ms over ${stages.size}%d stages (gaps = driver/planning time)")
    }
    spark.stop()
  }
}
