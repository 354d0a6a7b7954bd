package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One operation as the benchmark sees it: an id, the module its public
  * call lives in, and the wall time of each layer span around it. */
final class Op(val id: String, val module: String, traced: Boolean, sc: SparkContext) {
  val startNs: Long = System.nanoTime()
  var endNs: Long = 0L
  val spanNs: mutable.Map[String, Long] = mutable.Map("source" -> 0L, "construct" -> 0L, "exec" -> 0L)
  /** (layer, start, end) of every span, in epoch ms like listener event times. */
  val intervals = mutable.ArrayBuffer[(String, Long, Long)]()
  var rows: Long = 0L

  /** Time `f` as layer `layer` of this op. When traced, jobs started inside
    * carry the job group `<op id>:<layer>`, which the listener reads. */
  def span[T](layer: String)(f: => T): T = {
    if (traced) sc.setJobGroup(s"$id:$layer", module, interruptOnCancel = false)
    val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
    try f
    finally {
      spanNs(layer) += System.nanoTime() - t0
      intervals += ((layer, w0, System.currentTimeMillis()))
      if (traced) sc.clearJobGroup()
    }
  }

  def finish(): Unit = endNs = System.nanoTime()
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** What the listener attributes to one `<op id>:<layer>` job group. */
final class GroupStats {
  var jobs, sourceJobs, stages, tasks = 0L
  var sourceJobMs, cpuMs, schedDelayMs = 0.0
  var inputBytes, inputRows, shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  /** (start, end) in epoch ms of each job, and of each optimization or
    * planning phase, for checking that they lie inside the group's spans. */
  val jobSpans, planSpans = mutable.ArrayBuffer[(Long, Long)]()
}

/** A SparkListener owned by the benchmark. It attributes jobs, stages,
  * tasks and SQL executions to the job group of the operation that started
  * them, and records every Store layout build it sees (a SQL write whose
  * target lies under the Store root). All state is kept in memory and read
  * once the window has ended. */
final class Listener(storeMarker: String) extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val sourceJob = mutable.Set[Int]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmitted = mutable.Map[Int, Long]()
  private val execGroup = mutable.Map[Long, String]()
  private val buildStart = mutable.Map[Long, (String, Long)]()
  /** (target path, ms) of every Store build. */
  val builds = mutable.ArrayBuffer[(String, Double)]()
  @volatile var peakExecMem = 0L
  @volatile private var marker: Option[(String, java.util.concurrent.CountDownLatch)] = None

  private def stats(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    val inSql = props.exists(p => p.getProperty("spark.sql.execution.id") != null)
    // parquet schema inference: a job outside any SQL execution whose call
    // site (the stage name) is a `spark.read.parquet`
    val isSource = !inSql && e.stageInfos.exists(_.name.startsWith("parquet at "))
    if (isSource) sourceJob += e.jobId
    val s = stats(g)
    if (isSource) s.sourceJobs += 1 else s.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.getOrElse(e.jobId, e.time)
    if (sourceJob.remove(e.jobId)) stats(jobGroup(e.jobId)).sourceJobMs += (e.time - t0)
    jobGroup.get(e.jobId).foreach { g =>
      stats(g).jobSpans += ((t0, e.time))
      marker.foreach { case (m, latch) => if (g == m) latch.countDown() }
    }
    jobGroup.remove(e.jobId); jobStart.remove(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    stageGroup.get(id).foreach(g => stats(g).stages += 1)
    stageSubmitted.remove(id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrElse(e.stageId, "-")
    val s = stats(g)
    s.tasks += 1
    stageSubmitted.get(e.stageId).foreach(t0 => s.schedDelayMs += math.max(0L, e.taskInfo.launchTime - t0))
    val m = e.taskMetrics
    if (m != null) {
      s.cpuMs += m.executorCpuTime / 1e6
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup(s.executionId) = _)
      val plan = s.physicalPlanDescription
      val at = if (plan == null) -1 else plan.indexOf(storeMarker)
      if (at >= 0 && plan.contains("Execute ")) {
        val target = plan.substring(at).takeWhile(c => !c.isWhitespace && c != ',' && c != ']')
        buildStart(s.executionId) = (target, s.time)
      }
    case end: SparkListenerSQLExecutionEnd =>
      buildStart.remove(end.executionId).foreach { case (t, t0) => builds += ((t, (end.time - t0).toDouble)) }
      execGroup.remove(end.executionId).foreach { g =>
        // `qe` is not part of the public Scala API; reach it reflectively
        val qe = scala.util.Try(end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]).toOption
        qe.filter(_ != null).foreach { q =>
          val st = stats(g)
          q.tracker.phases.foreach { case (phase, summary) =>
            phase match {
              case "analysis" => st.analysisMs += summary.durationMs
              case "optimization" => st.optimizationMs += summary.durationMs
              case "planning" => st.planningMs += summary.durationMs
              case _ =>
            }
            if (phase == "optimization" || phase == "planning") st.planSpans += ((summary.startTimeMs, summary.endTimeMs))
          }
        }
      }
    case _ =>
  }

  /** Blocks until every event posted before this call has been handled:
    * runs a one-task job in a marker group and waits for its end event,
    * which the bus delivers after everything queued before it. */
  def drain(sc: SparkContext): Unit = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val name = s"drain-${System.nanoTime()}"
    marker = Some((name, latch))
    sc.setJobGroup(name, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
    marker = None
  }
}

/** Samples block-manager storage in use (cached blocks and broadcasts)
  * against the storage pool while a window runs. */
final class StorageSampler(sc: SparkContext) {
  @volatile private var running = true
  private val peak = new AtomicLong(0L)
  @volatile var poolBytes = 0L
  private val thread = new Thread(() => {
    while (running) {
      sc.getExecutorMemoryStatus.values.foreach { case (max, remaining) =>
        poolBytes = max
        peak.accumulateAndGet(max - remaining, math.max)
      }
      Thread.sleep(50)
    }
  }, "storage-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Long = { running = false; thread.join(); peak.get }
}

/** Per-layer metrics of one traced window: each time and count is the
  * mean per operation; peaks and ratios are over the window. */
object Layers {

  def metrics(ops: Seq[Op], l: Listener, releaseMs: DoubleAdder): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    def g(op: Op, layer: String) = Option(l.groups.get(s"${op.id}:$layer")).getOrElse(new GroupStats)
    var source, construct, analysis, optimization, planning, exec, unaccounted, outside = 0.0
    var sourceJobs, constructJobs, execJobs, stages, tasks = 0L
    var cpu, sched = 0.0
    var input, shRead, shWrite, spill, rowsRead, rowsReturned = 0L
    val byModule = mutable.Map[String, (Double, Long)]().withDefaultValue((0.0, 0L))
    ops.foreach { op =>
      val (s, c, e) = (g(op, "source"), g(op, "construct"), g(op, "exec"))
      val all = Seq(s, c, e)
      val planMs = e.optimizationMs + e.planningMs
      val inferMs = c.sourceJobMs + e.sourceJobMs
      val srcMs = op.spanNs("source") / 1e6 + inferMs
      val conMs = op.spanNs("construct") / 1e6 - c.sourceJobMs
      val exeMs = op.spanNs("exec") / 1e6 - e.sourceJobMs - planMs
      source += srcMs; construct += conMs; exec += exeMs
      analysis += all.map(_.analysisMs).sum
      optimization += e.optimizationMs; planning += e.planningMs
      unaccounted += op.wallMs - (srcMs + conMs + planMs + exeMs)
      outside += outsideMs(op, "source", s.jobSpans) + outsideMs(op, "construct", c.jobSpans) +
        outsideMs(op, "exec", e.jobSpans ++ e.planSpans)
      sourceJobs += all.map(_.sourceJobs).sum
      constructJobs += c.jobs; execJobs += e.jobs
      val (mMs, mJobs) = byModule(op.module)
      byModule(op.module) = (mMs + conMs, mJobs + c.jobs)
      stages += e.stages; tasks += e.tasks
      cpu += e.cpuMs; sched += all.map(_.schedDelayMs).sum
      input += e.inputBytes; shRead += e.shuffleRead; shWrite += e.shuffleWrite; spill += e.spill
      rowsRead += all.map(_.inputRows).sum
      rowsReturned += op.rows
    }
    val mb = 1024.0 * 1024.0
    val base = Map(
      "source.ms" -> source / n, "source.jobs" -> sourceJobs / n,
      "construct.ms" -> construct / n, "construct.jobs" -> constructJobs / n,
      "plan.analysis_ms" -> analysis / n, "plan.optimization_ms" -> optimization / n,
      "plan.planning_ms" -> planning / n,
      "exec.ms" -> exec / n, "exec.jobs" -> execJobs / n, "exec.stages" -> stages / n,
      "exec.tasks" -> tasks / n, "exec.task_cpu_ms" -> cpu / n,
      "exec.input_mb" -> input / mb / n, "exec.shuffle_read_mb" -> shRead / mb / n,
      "exec.shuffle_write_mb" -> shWrite / mb / n, "exec.spill_mb" -> spill / mb / n,
      "exec.peak_exec_mem_mb" -> l.peakExecMem / mb,
      "exec.sched_delay_ms" -> sched / n,
      "exec.rows_read_per_row_returned" -> rowsRead.toDouble / math.max(rowsReturned, 1L),
      "caches.release_ms" -> releaseMs.sum / n,
      "trace.unaccounted_ms" -> unaccounted / n,
      "trace.outside_span_ms" -> outside / n)
    val modules = byModule.toSeq.flatMap { case (m, (ms, jobs)) =>
      val k = ops.count(_.module == m).toDouble
      Seq(s"construct.$m.ms" -> ms / k, s"construct.$m.jobs" -> jobs / k)
    }
    base ++ modules
  }

  /** How far the listener's jobs or planning phases of one layer of `op`
    * reach outside that layer's spans, in ms: the split above moves their
    * time into or out of the layer, which is only right if they ran inside
    * it. Event times are whole ms, so each end may be off by 1 ms. */
  private def outsideMs(op: Op, layer: String, seen: Iterable[(Long, Long)]): Double = {
    val spans = op.intervals.filter(_._1 == layer)
    seen.map { case (s, e) =>
      val off = spans.map { case (_, a, b) => math.max(0L, a - 1 - s) + math.max(0L, e - b - 1) }
      if (off.isEmpty) (e - s).toDouble else off.min.toDouble
    }.sum
  }

  /** Mean layer split per op key (gate name or request template), for stderr. */
  def byKey(ops: Seq[(String, Op)], l: Listener, releaseMs: DoubleAdder): String =
    ops.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      val m = metrics(xs.map(_._2), l, releaseMs)
      f"$k: source ${m("source.ms")}%.0f, construct ${m("construct.ms")}%.0f (${m("construct.jobs")}%.1f jobs), " +
        f"plan ${m("plan.optimization_ms") + m("plan.planning_ms")}%.0f, exec ${m("exec.ms")}%.0f ms"
    }.mkString("\n")

  /** Store layout writes seen by the listener: total ms and SQL writes per
    * distinct target. A serial build writes each target once (the
    * maintained LSH index twice: build, then append); more means a table
    * was built again, e.g. by two clients at once. */
  def store(l: Listener): (Double, Double) = {
    val targets = l.builds.map(_._1).distinct.size
    (l.builds.map(_._2).sum, if (targets == 0) 0.0 else l.builds.size.toDouble / targets)
  }
}
