package graft.sparql

import graft.{SparkSpec, Store}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** `p{n,m}` as one bounded level search: every case must return the rows of
  * the `p/p?/p?` chain the parser used to build, as multisets, once with the
  * driver-side search and once with the distributed loop forced. */
class PathRangeSpec extends SparkSpec {
  import spark.implicits._

  private val Knows = "http://schema.org/knows"
  private val Name = "http://schema.org/name"

  /** The reference: a finite range as n chained copies of `p`, then m-n
    * chained `p?` (each adds 0 or 1 hop), evaluated by the engine's own
    * sequence and `p?` arms. */
  private def chain(p: PathExpr): PathExpr = p match {
    case PRange(q, min, max) =>
      val c = chain(q)
      val head: PathExpr =
        if (min == 0) PZeroOrOne(c) else (1 until min).foldLeft(c)((acc, _) => PSeq(acc, c))
      (math.max(min, 1) until max).foldLeft(head)((acc, _) => PSeq(acc, PZeroOrOne(c)))
    case PInverse(q) => PInverse(chain(q))
    case PSeq(l, r) => PSeq(chain(l), chain(r))
    case PAlt(l, r) => PAlt(chain(l), chain(r))
    case POneOrMore(q) => POneOrMore(chain(q))
    case PZeroOrMore(q) => PZeroOrMore(chain(q))
    case PZeroOrOne(q) => PZeroOrOne(chain(q))
    case leaf => leaf
  }

  private def quads(rows: (String, String, String, Int, String)*): DataFrame =
    rows.map { case (g, s, p, ok, o) => (g, s, 0, p, ok, o, "", "") }
      .toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
        "obj_value", "obj_lang", "obj_datatype")

  private def knows(g: String, edges: (String, String)*) =
    edges.map { case (s, o) => (g, s, Knows, 0, o) }

  private val ring = quads(knows("g", (0 until 20).map(i => (s"p$i", s"p${(i + 1) % 20}")): _*): _*)
  private val line = quads(knows("g", (0 until 5).map(i => (s"c$i", s"c${i + 1}")): _*): _*)
  // a -> b, c -> d -> a closes a cycle; d -> e leaves it; f is off the path
  private val branching = quads(knows("g", "a" -> "b", "a" -> "c", "b" -> "d",
    "c" -> "d", "d" -> "a", "d" -> "e") :+ ("g", "f", Name, 2, "f"): _*)
  // literal objects end every walk that reaches them
  private val literals = quads(knows("g", "x" -> "y") ++ Seq(("g", "x", Knows, 2, "lit"),
    ("g", "y", Knows, 2, "lit"), ("g", "y", Knows, 0, "x")): _*)
  private val named = quads(knows("g1", "n0" -> "n1", "n1" -> "n2") ++
    knows("g2", "n0" -> "n2", "n2" -> "n0", "n2" -> "n3"): _*)

  private val knowsP = PLink(Knows)
  private val ranges = Seq((0, 1), (0, 3), (1, 1), (2, 2), (2, 4), (1, 3))
  private val paths: Seq[PathExpr] =
    ranges.map { case (n, m) => PRange(knowsP, n, m) } ++ Seq(
      PRange(PInverse(knowsP), 1, 2),
      PRange(PSeq(knowsP, knowsP), 1, 2))

  private def iri(v: String) = TConst(Term.iri(v))

  /** Endpoints: seeded subject, seeded object, var-var, same var, const-const. */
  private def endpoints(from: String, to: String): Seq[(TermPattern, TermPattern)] = Seq(
    (iri(from), TVar("x")), (TVar("x"), iri(to)), (TVar("x"), TVar("y")),
    (TVar("x"), TVar("x")), (iri(from), iri(to)))

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map((r: Row) => r.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Every path over every endpoint pair; `eval(path, s, o, localMaxEdges)`.
    * The cases are small and latency-bound, so they run on 4 threads, each
    * releasing its own caches after every action. */
  private def check(fixture: String, endpointPairs: Seq[(TermPattern, TermPattern)])(
      eval: (PathExpr, TermPattern, TermPattern, Long) => DataFrame): Unit = {
    def run(path: PathExpr, s: TermPattern, o: TermPattern, localMax: Long) = {
      val rows = multiset(eval(path, s, o, localMax))
      graft.Caches.release()
      rows
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val mismatches = Future.traverse(for (p <- paths; (s, o) <- endpointPairs) yield (p, s, o)) {
        case (path, s, o) => Future {
          val expected = run(chain(path), s, o, PathCompiler.LocalClosureMaxEdges)
          Seq(PathCompiler.LocalClosureMaxEdges, 0L).filter(run(path, s, o, _) != expected)
            .map(localMax => s"$fixture: $s $path $o (localMaxEdges=$localMax)")
        }
      }
      assert(Await.result(mismatches, 10.minutes).flatten == Nil)
    } finally pool.shutdown()
  }

  private def defaultGraph(q: DataFrame)(p: PathExpr, s: TermPattern, o: TermPattern,
      localMax: Long): DataFrame = PathCompiler.compile(q, s, p, o, None, None, localMax)

  test("p{n,m} equals the p/p?/p? chain: 20-ring") {
    check("ring", endpoints("p0", "p3"))(defaultGraph(ring))
  }

  test("p{n,m} equals the p/p?/p? chain: chain") {
    check("chain", endpoints("c1", "c4"))(defaultGraph(line))
  }

  test("p{n,m} equals the p/p?/p? chain: branching graph with a cycle") {
    check("branching", endpoints("a", "d"))(defaultGraph(branching))
  }

  test("p{n,m} equals the p/p?/p? chain: literal objects") {
    check("literals", endpoints("x", "x") :+ ((TVar("x"), TConst(Term.lit("lit")))))(
      defaultGraph(literals))
  }

  test("p{n,m} equals the p/p?/p? chain: two named graphs, default graph and GRAPH ?g") {
    check("named", endpoints("n0", "n2"))(defaultGraph(named))
    check("named GRAPH <g2>", endpoints("n0", "n2")) { (p, s, o, localMax) =>
      PathCompiler.compile(named, s, p, o, Some(iri("g2")), None, localMax)
    }
    check("named GRAPH ?g", endpoints("n0", "n2")) { (p, s, o, localMax) =>
      PathCompiler.compileGraphVar(named, s, p, o, "g", localMax)
    }
  }

  test("parser emits one PRange node for a finite range") {
    def pathOf(q: String): PathExpr = SparqlParser.parse(q).pattern match {
      case PPath(_, p, _) => p
      case other => fail(s"not a path pattern: $other")
    }
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{1,3} ?x }") == PRange(knowsP, 1, 3))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{2} ?x }") == PRange(knowsP, 2, 2))
    assert(pathOf("SELECT ?x WHERE { <a> ^schema:knows{1,2} ?x }") ==
      PRange(PInverse(knowsP), 1, 2))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{2,} ?x }") ==
      PSeq(PRange(knowsP, 2, 2), PZeroOrMore(knowsP)))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{0,} ?x }") == PZeroOrMore(knowsP))
  }

  /** Counts the jobs started in one job group. [[drain]] runs a marker job
    * and waits for its end event, which the listener sees only after every
    * event posted before it. */
  private final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    private val marker = s"$group-drain"
    private val markerJobs = scala.collection.mutable.Set[Int]()
    private val drained = new java.util.concurrent.CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
        case Some(`group`) => jobs += 1
        case Some(`marker`) => markerJobs += e.jobId
        case _ =>
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs(e.jobId)) drained.countDown()
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(marker, "drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
  }

  /** Jobs of the request below at the parent commit, whose parser chained
    * `p/p?/p?`. */
  private val ParentJobs = 12

  test("a warm knows{1,3} request runs at most half the jobs of the p/p?/p? chain") {
    val q = "SELECT ?x WHERE { <person:0> schema:knows{1,3} ?x }"
    def run(): Seq[String] = {
      val rows = SparqlEngine.select(Store.quads(spark, sf0001), q,
        defaultGraph = Some(Store.triples(spark, sf0001))).collect().map(_.getString(0)).sorted.toSeq
      graft.Caches.release()
      rows
    }
    val warm = run()
    assert(warm == Seq("person:1", "person:2", "person:3"))
    val group = s"path-range-jobs-${System.nanoTime()}"
    val counter = new JobCounter(group)
    spark.sparkContext.addSparkListener(counter)
    try {
      spark.sparkContext.setJobGroup(group, "knows{1,3}", interruptOnCancel = false)
      try assert(run() == warm) finally spark.sparkContext.clearJobGroup()
      counter.drain()
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(counter.jobs > 0 && counter.jobs <= ParentJobs / 2, s"${counter.jobs} jobs")
  }
}
