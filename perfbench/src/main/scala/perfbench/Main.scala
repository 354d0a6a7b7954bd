package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Drives one benchmark run in one JVM and one SparkSession at local[4].
  *
  * Arguments (written by run.py):
  *   --data DIR      generated input tables
  *   --pool FILE     distinct read requests, one `id<TAB>kind<TAB>args…` line each
  *   --stream FILE   one round of each client's request order, `client<TAB>id` lines
  *   --clients N     concurrent read clients (closed loop, no think time)
  *   --gates A,B     gates one more client runs by name, one at a time
  *   --oracle DIR    DuckDB results of those gates, one parquet per gate
  *   --seconds S     length of the measured window
  *   --trace 0|1     1: a traced window between two untraced ones
  *   --out FILE      JSON result
  */
object Main {

  val Confs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.optimizer.windowGroupLimitThreshold" -> "16384",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // each read client gets a pool of its own, as a service gives each
    // user, so one client's heavy request does not queue another's behind it
    "spark.scheduler.mode" -> "FAIR")

  final case class Done(op: Op, kind: String, key: String, result: Option[Check.Result], error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val dir = a("data")
    val clients = a("clients").toInt
    val gateNames = a("gates").split(",").filter(_.nonEmpty).toIndexedSeq
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val pool = if (clients > 0) readLines(a("pool")).map(Req.parse) else IndexedSeq.empty
    val byId = pool.map(q => q.id -> q).toMap
    val streams = if (clients > 0) {
      val lines = readLines(a("stream")).map(_.split("\t"))
      (0 until clients).map(c => lines.filter(_(0).toInt == c).map(l => byId(l(1))))
    } else IndexedSeq.empty

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(graft.GraftExtensions)
      .config(Confs.toMap)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val listener = new Listener(tmp.toString + "/graft-store-")
    if (traced) sc.addSparkListener(listener)

    // -- set-up: Store layouts, then every request once in order (the
    //    warm-up, whose results are the serial reference) and every gate
    //    twice: a gate's second call is still slower than its later ones,
    //    while the JIT compiles its generated code
    if (clients > 0) {
      graft.Store.quads(spark, dir); graft.Store.triples(spark, dir)
      graft.Store.postings(spark, dir); graft.Store.iriIndex(spark, dir)
    }
    val layoutsS = (System.nanoTime() - t0) / 1e9
    val ops = new Ops(spark, dir)
    val serial = pool.map(q => run(ops, q, traced = false, sc, "ref"))
    val warmGates = (0 until 2).flatMap(p => gateNames.map(g => runGate(ops, g, traced = false, sc, s"$p-warm")))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: set-up $setupS%.1f s, Store layouts built at $layoutsS%.1f s")
    summary("set-up", serial ++ warmGates)

    // -- expected results: the serial pass, and DuckDB's result per gate --
    val expected = mutable.Map[String, Check.Result]()
    serial.foreach(d => d.result.foreach(expected(d.key) = _))
    val serialErrors = (serial ++ warmGates).count(_.error.nonEmpty)
    gateNames.foreach { g =>
      val df = spark.read.parquet(s"${a("oracle")}/$g.parquet")
      expected(g) = Check.canonical(df.columns.toSeq, df.collect().toSeq)
    }

    // -- measured windows ----------------------------------------------------
    // a traced run has three, so each is shorter: gates make two passes
    // instead of three
    val passes = if (traced) 2 else 3
    def window(tracing: Boolean): Window = {
      if (tracing) { sc.addSparkListener(listener); listener.drain(sc); listener.groups.clear() }
      val sampler = if (tracing) Some(new StorageSampler(sc)) else None
      val w = measure(ops, streams, gateNames, seconds, passes, tracing, sc)
      val peak = sampler.map(_.stop())
      if (tracing) { listener.drain(sc); sc.removeSparkListener(listener) }
      w.storagePeak = peak.getOrElse(0L)
      w.storagePool = sampler.map(_.poolBytes).getOrElse(0L)
      w
    }
    if (traced) { listener.drain(sc); sc.removeSparkListener(listener) }
    val plain = window(tracing = false)
    // untraced, traced, untraced: the traced window is compared with the
    // mean of the two around it, so that warm-up drift cancels
    val tracedWindow = Option.when(traced)(window(tracing = true))
    val after = Option.when(traced)(window(tracing = false))

    // -- checks ------------------------------------------------------------
    val all = (Seq(plain) ++ tracedWindow ++ after).flatMap(_.done.asScala)
    val wrong = all.filter(d => d.error.isEmpty && !d.result.map(_.digest).equals(expected.get(d.key).map(_.digest)))
    val errors = all.filter(_.error.nonEmpty)
    (errors ++ wrong).groupBy(_.kind).foreach { case (k, ds) =>
      val why = ds.head.error.getOrElse("result differs from the expected result")
      System.err.println(s"perfbench: ${ds.size} failed $k operations, e.g. ${ds.head.key}: $why")
    }
    if (serialErrors > 0) System.err.println(s"perfbench: $serialErrors set-up operations failed")
    summary("window", plain.done.asScala.toSeq)
    if (gateNames.nonEmpty) System.err.println("perfbench: window gate latencies in order (ms): " +
      gateNames.map(g => g + " " + plain.done.asScala.filter(_.key == g).map(d => f"${d.op.wallMs}%.0f").mkString("/")).mkString(", "))
    System.err.println(s"perfbench: window passes (s): ${plain.passS.asScala.map(p => f"$p%.2f").mkString(", ")}")

    val heapMb = liveHeapMb()
    val storeMb = storeBytes(tmp) / 1048576.0

    val e2e = plain.endToEnd ++ Map("setup_s" -> setupS, "heap_mb" -> heapMb, "store_mb" -> storeMb)
    tracedWindow.foreach { tw =>
      val keyed = tw.done.asScala.toSeq.map(d => (template(d.key), d.op))
      System.err.println("perfbench: layer split per op (mean ms)\n" + Layers.byKey(keyed, listener, tw.releaseMs))
      System.err.println(f"perfbench: traced window peak storage ${tw.storagePeak / 1048576.0}%.1f MB " +
        f"of a ${tw.storagePool / 1048576.0}%.0f MB storage pool")
    }
    val layers = tracedWindow.zip(after).map { case (tw, aw) =>
      val (buildMs, perTable) = Layers.store(listener)
      val untraced = (plain.opsPerS + aw.opsPerS) / 2
      val overhead = 100.0 * (1.0 - tw.opsPerS / untraced)
      val drift = 100.0 * math.abs(plain.opsPerS - aw.opsPerS) / untraced
      if (math.abs(overhead) <= drift) System.err.println(
        f"perfbench: tracing overhead unresolved: $overhead%.1f%% is within the untraced windows' drift of $drift%.1f%%")
      val unattributed = Option(listener.groups.get("-")).map(g => g.jobs + g.sourceJobs).getOrElse(0L)
      Layers.metrics(tw.done.asScala.toSeq.map(_.op), listener, tw.releaseMs) ++ Map(
        "caches.storage_peak_mb" -> tw.storagePeak / 1048576.0,
        "caches.storage_peak_frac" -> tw.storagePeak.toDouble / math.max(tw.storagePool, 1L),
        "store.build_ms" -> buildMs,
        "store.writes_per_table" -> perTable,
        "trace.overhead_pct" -> overhead,
        "trace.untraced_drift_pct" -> drift,
        "trace.unattributed_jobs" -> unattributed.toDouble)
    }.getOrElse(Map.empty)

    val json = new StringBuilder
    val correct = wrong.isEmpty && errors.isEmpty && serialErrors == 0
    json ++= s"""{"correct": $correct, "attempted": ${all.size}, """
    json ++= s""""failed": ${errors.size + wrong.size}, """
    json ++= s""""end_to_end": ${obj(e2e)}, "per_layer": ${obj(layers)}}"""
    Files.writeString(Paths.get(a("out")), json.toString + "\n")
    spark.stop()
  }

  /** One measured window of the read clients or of the gate client. */
  final class Window(val done: ConcurrentLinkedQueue[Done], val releaseMs: DoubleAdder, val startNs: Long) {
    var storagePeak, storagePool = 0L
    /** Seconds of each client's whole passes: one round of a read client's
      * requests, or one pass over the gates. */
    val passS = new ConcurrentLinkedQueue[Double]()
    /** Closed-loop throughput: the sum over clients of each client's
      * operations per second of its own time in the window. */
    def opsPerS: Double = done.asScala.toSeq.groupBy(_.op.id.split('-').last).values.map { ds =>
      ds.size / ((ds.map(_.op.endNs).max - startNs) / 1e9)
    }.sum
    def endToEnd: Map[String, Double] = {
      val ms = done.asScala.toSeq.map(_.op.wallMs)
      Map("ops_per_s" -> opsPerS, "p50_ms" -> percentile(ms, 0.5), "p95_ms" -> percentile(ms, 0.95),
        "pass_s" -> percentile(passS.asScala.toSeq, 0.5))
    }
  }

  private def measure(ops: Ops, streams: IndexedSeq[IndexedSeq[Req]], gates: IndexedSeq[String],
      seconds: Double, passes: Int, traced: Boolean, sc: org.apache.spark.SparkContext): Window = {
    val start = System.nanoTime()
    val w = new Window(new ConcurrentLinkedQueue[Done](), new DoubleAdder, start)
    val deadline = start + (seconds * 1e9).toLong
    def release(): Unit = {
      val t = System.nanoTime(); graft.Caches.release(); w.releaseMs.add((System.nanoTime() - t) / 1e6)
    }
    val readers = streams.zipWithIndex.map { case (stream, c) =>
      new Thread(() => {
        sc.setLocalProperty("spark.scheduler.pool", s"client-$c")
        // whole rounds of the client's order, so every window has the same mix
        var i = 0
        var round = start
        while (i % stream.size != 0 || i == 0 || System.nanoTime() < deadline) {
          w.done.add(run(ops, stream(i % stream.size), traced, sc, s"$i-c$c"))
          release()
          i += 1
          if (i % stream.size == 0) {
            val t = System.nanoTime(); w.passS.add((t - round) / 1e9); round = t
          }
        }
      }, s"client-$c")
    }
    val gateClient = Option.when(gates.nonEmpty)(new Thread(() => {
      // whole passes, at least `passes`, so every window runs each gate as
      // often and each gate's latency has several samples
      var p = 0
      while (p < passes || System.nanoTime() < deadline) {
        val t = System.nanoTime()
        gates.foreach { g =>
          w.done.add(runGate(ops, g, traced, sc, s"$p-gates"))
          release()
        }
        w.passS.add((System.nanoTime() - t) / 1e9)
        p += 1
      }
    }, "gate-client"))
    (readers ++ gateClient).foreach(_.start())
    (readers ++ gateClient).foreach(_.join())
    w
  }

  private def run(ops: Ops, q: Req, traced: Boolean, sc: org.apache.spark.SparkContext, tag: String): Done = {
    val op = new Op(s"${q.id}-$tag", q.module, traced, sc)
    val r = scala.util.Try(ops.request(op, q))
    op.finish()
    Done(op, "read", q.id, r.toOption, r.failed.toOption.map(describe))
  }

  private def runGate(ops: Ops, g: String, traced: Boolean, sc: org.apache.spark.SparkContext, tag: String): Done = {
    val op = new Op(s"$g-$tag", "gate", traced, sc)
    val r = scala.util.Try(ops.gate(op, g))
    op.finish()
    Done(op, "gate", g, r.toOption, r.failed.toOption.map(describe))
  }

  /** A request's template (its id without the number), or a gate's name. */
  private def template(key: String): String = key.replaceAll("[0-9]+$", "")

  /** Per request template (or gate): count and median latency, to stderr. */
  private def summary(what: String, ds: Seq[Done]): Unit = {
    val byKind = ds.groupBy(d => template(d.key))
    val parts = byKind.toSeq.sortBy(_._1).map { case (k, xs) =>
      f"$k ${xs.size}x${median(xs.map(_.op.wallMs))}%.0f" }
    System.err.println(s"perfbench: $what (n x median ms): ${parts.mkString(", ")}")
  }

  private def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}"

  /** The Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    * all order statistics. A window holds a few dozen latencies from a
    * handful of request kinds, so the single middle sample jumps between
    * kinds from run to run; this estimate of the same quantile moves far
    * less. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0) else {
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Live driver heap: the least heap in use right after each of three
    * full collections, spaced so that what one queues for cleanup (cached
    * blocks, broadcasts, shuffles of finished queries) is gone by the next. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Thread.sleep(300)
    mb
  }.min

  private def storeBytes(tmp: Path): Long = {
    val roots = Files.list(tmp)
    try roots.iterator.asScala.filter(_.getFileName.toString.startsWith("graft-store-")).map { r =>
      val s = Files.walk(r)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }.sum
    finally roots.close()
  }

  private def readLines(p: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toIndexedSeq.filter(_.nonEmpty)

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
}
