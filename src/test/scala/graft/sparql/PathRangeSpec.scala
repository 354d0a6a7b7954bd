package graft.sparql

import graft.{SparkSpec, Store}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Every path quantifier (`p{n,m}`, `p{n,}`, `p+`, `p*`, `p?`) is one level
  * search. Every case must return the rows of a plain Scala set reference
  * over the fixture rows, once with the driver-side search and once with
  * the distributed loop forced; a finite range must also return the rows
  * of the `p/p?/p?` chain the parser used to build. */
class PathRangeSpec extends SparkSpec {
  import spark.implicits._

  private val Knows = "http://schema.org/knows"
  private val Name = "http://schema.org/name"

  /** A quad row: (graph, subject IRI, predicate, object kind, object). */
  private type Quad = (String, String, String, Int, String)

  /** The chain reference: a finite range as n chained copies of `p`, then
    * m-n chained `p?` (each adds 0 or 1 hop), evaluated by the engine's own
    * sequence arm and `{0,1}` search. */
  private def chain(p: PathExpr): PathExpr = p match {
    case PRange(q, min, Some(max)) =>
      val c = chain(q)
      val opt = PRange(c, 0, Some(1))
      val head: PathExpr =
        if (min == 0) opt else (1 until min).foldLeft(c)((acc, _) => PSeq(acc, c))
      (math.max(min, 1) until max).foldLeft(head)((acc, _) => PSeq(acc, opt))
    case PInverse(q) => PInverse(chain(q))
    case PSeq(l, r) => PSeq(chain(l), chain(r))
    case PAlt(l, r) => PAlt(chain(l), chain(r))
    case leaf => leaf
  }

  private def finite(p: PathExpr): Boolean = p match {
    case PRange(q, _, max) => max.isDefined && finite(q)
    case PInverse(q) => finite(q)
    case PSeq(l, r) => finite(l) && finite(r)
    case PAlt(l, r) => finite(l) && finite(r)
    case _ => true
  }

  // ---------------------------------------------------------------------
  // the set reference: no Spark, no levels — powers of the edge relation
  // ---------------------------------------------------------------------

  private type Node = (Int, String) // (kind, value)

  private def relation(rows: Seq[Quad], p: PathExpr): Set[(Node, Node)] = p match {
    case PLink(i) => rows.collect { case (_, s, `i`, k, o) => ((Kind.Iri, s), (k, o)) }.toSet
    case PInverse(q) => relation(rows, q).map(_.swap)
    case PSeq(l, r) => compose(relation(rows, l), relation(rows, r))
    case PAlt(l, r) => relation(rows, l) ++ relation(rows, r)
    case PRange(q, min, max) =>
      val r = relation(rows, q)
      // zero hops: the identity over the node domain of q
      val powers = Iterator.iterate(r.flatMap { case (s, o) => Seq(s -> s, o -> o) })(
        compose(_, r))
      max match {
        case Some(m) => powers.slice(min, m + 1).flatten.toSet
        case None =>
          var acc = powers.drop(min).next()
          var grown = acc ++ compose(acc, r)
          while (grown != acc) { acc = grown; grown = acc ++ compose(acc, r) }
          acc
      }
    case other => fail(s"no reference for $other")
  }

  private def compose(a: Set[(Node, Node)], b: Set[(Node, Node)]): Set[(Node, Node)] = {
    val next = b.groupMap(_._1)(_._2)
    for ((s, m) <- a; o <- next.getOrElse(m, Set.empty[Node])) yield (s, o)
  }

  private type Solution = Map[String, Any]

  private def node(t: Term): Node = (t.kind, t.value)

  /** The solutions of (s, path, o) over `rows` as the engine binds them. */
  private def solutions(rows: Seq[Quad], p: PathExpr, s: TermPattern,
      o: TermPattern): Set[Solution] = {
    val r = relation(rows, p)
    (s, o) match {
      case (TVar(a), TVar(b)) if a == b => r.collect { case (x, y) if x == y => Map(a -> x) }
      case (TVar(a), TVar(b)) => r.map { case (x, y) => Map(a -> x, b -> y) }
      case (TConst(c), TVar(b)) => r.collect { case (x, y) if x == node(c) => Map(b -> y) }
      case (TVar(a), TConst(c)) => r.collect { case (x, y) if y == node(c) => Map(a -> x) }
      case (TConst(c), TConst(d)) =>
        if (r(node(c) -> node(d))) Set(Map("__unit" -> 1)) else Set.empty
      case other => fail(s"no reference for $other")
    }
  }

  /** `GRAPH ?g`: the path per named graph, with ?g bound to the graph (the
    * only binding when both endpoints are constant). */
  private def perGraph(rows: Seq[Quad], p: PathExpr, s: TermPattern,
      o: TermPattern): Set[Solution] =
    rows.groupBy(_._1).toSet[(String, Seq[Quad])].flatMap { case (g, in) =>
      solutions(in, p, s, o).map(_ - "__unit" + ("g" -> ((Kind.Iri, g)))) }

  // ---------------------------------------------------------------------
  // fixtures
  // ---------------------------------------------------------------------

  private def quads(rows: Seq[Quad]): DataFrame =
    rows.map { case (g, s, p, ok, o) => (g, s, 0, p, ok, o, "", "") }
      .toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
        "obj_value", "obj_lang", "obj_datatype")

  private def knows(g: String, edges: (String, String)*): Seq[Quad] =
    edges.map { case (s, o) => (g, s, Knows, 0, o) }

  private val ring = knows("g", (0 until 20).map(i => (s"p$i", s"p${(i + 1) % 20}")): _*)
  private val line = knows("g", (0 until 5).map(i => (s"c$i", s"c${i + 1}")): _*)
  // a -> b, c -> d -> a closes a cycle; d -> e leaves it; f is off the path
  private val branching = knows("g", "a" -> "b", "a" -> "c", "b" -> "d",
    "c" -> "d", "d" -> "a", "d" -> "e") :+ (("g", "f", Name, 2, "f"))
  // literal objects end every walk that reaches them
  private val literals = knows("g", "x" -> "y") ++ Seq(("g", "x", Knows, 2, "lit"),
    ("g", "y", Knows, 2, "lit"), ("g", "y", Knows, 0, "x"))
  private val named = knows("g1", "n0" -> "n1", "n1" -> "n2") ++
    knows("g2", "n0" -> "n2", "n2" -> "n0", "n2" -> "n3")

  private val knowsP = PLink(Knows)
  private val ranges = Seq((0, 1), (0, 3), (1, 1), (2, 2), (2, 4), (1, 3))
  private val bounded: Seq[PathExpr] =
    ranges.map { case (n, m) => PRange(knowsP, n, Some(m)) } ++ Seq(
      PRange(PInverse(knowsP), 1, Some(2)),
      PRange(PSeq(knowsP, knowsP), 1, Some(2)))
  /** `p+`, `p*`, `p{2,}`, `^p+` and `(p/p)*`. */
  private val unbounded: Seq[PathExpr] = Seq(
    PRange(knowsP, 1, None), PRange(knowsP, 0, None), PRange(knowsP, 2, None),
    PRange(PInverse(knowsP), 1, None), PRange(PSeq(knowsP, knowsP), 0, None))

  private def iri(v: String) = TConst(Term.iri(v))

  /** Endpoints: seeded subject, seeded object, var-var, same var, const-const. */
  private def endpoints(from: String, to: String): Seq[(TermPattern, TermPattern)] = Seq(
    (iri(from), TVar("x")), (TVar("x"), iri(to)), (TVar("x"), TVar("y")),
    (TVar("x"), TVar("x")), (iri(from), iri(to)))

  /** Rows as solutions: a term binds as (kind, value), `__unit` as is. */
  private def multiset(df: DataFrame): Map[Solution, Int] =
    df.collect().toSeq.map { (r: Row) =>
      r.schema.fieldNames.zip(r.toSeq).map {
        case (c, t: Row) => c -> ((t.getAs[Int]("kind"), t.getAs[String]("value")))
        case (c, v) => c -> v
      }.toMap: Solution
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** One evaluation form over a fixture: the engine call
    * `eval(path, s, o, localMaxEdges)` and its set reference. */
  private final class Form(val name: String,
      val eval: (PathExpr, TermPattern, TermPattern, Long) => DataFrame,
      val reference: (PathExpr, TermPattern, TermPattern) => Set[Solution])

  private def defaultGraph(rows: Seq[Quad]): Form = {
    val q = quads(rows)
    // the default graph is the set of triples of every graph
    new Form("default graph", (p, s, o, localMax) =>
      PathCompiler.compile(q, s, p, o, None, None, localMax), solutions(rows, _, _, _))
  }

  private def forms(rows: Seq[Quad]): Seq[Form] = Seq(defaultGraph(rows))

  private val namedForms: Seq[Form] = {
    val q = quads(named)
    Seq(defaultGraph(named),
      new Form("GRAPH <g2>", (p, s, o, localMax) =>
        PathCompiler.compile(q, s, p, o, Some(iri("g2")), None, localMax),
        solutions(named.filter(_._1 == "g2"), _, _, _)),
      new Form("GRAPH ?g", (p, s, o, localMax) =>
        PathCompiler.compileGraphVar(q, s, p, o, "g", localMax), perGraph(named, _, _, _)))
  }

  /** Every path over every endpoint pair and form must equal the set
    * reference, with the driver search and with the distributed loop
    * forced (`localMaxEdges = 0`); a finite path's chain must too. The
    * cases are small and latency-bound, so they run on 4 threads, each
    * releasing its own caches after every action. */
  private def check(fixture: String, forms: Seq[Form], paths: Seq[PathExpr],
      endpointPairs: Seq[(TermPattern, TermPattern)]): Unit = {
    def run(f: Form, path: PathExpr, s: TermPattern, o: TermPattern, localMax: Long) = {
      val rows = multiset(f.eval(path, s, o, localMax))
      graft.Caches.release()
      rows
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val cases = for (f <- forms; p <- paths; (s, o) <- endpointPairs) yield (f, p, s, o)
    try {
      val mismatches = Future.traverse(cases) { case (f, path, s, o) => Future {
        val expected = f.reference(path, s, o).map(_ -> 1).toMap
        val runs = Seq(PathCompiler.LocalClosureMaxEdges, 0L).map(m => (path, m)) ++
          (if (finite(path)) Seq((chain(path), PathCompiler.LocalClosureMaxEdges)) else Nil)
        runs.filter { case (p, m) => run(f, p, s, o, m) != expected }
          .map { case (p, m) => s"$fixture ${f.name}: $s $p $o (localMaxEdges=$m)" }
      } }
      assert(Await.result(mismatches, 10.minutes).flatten == Nil)
    } finally pool.shutdown()
  }

  test("p{n,m} equals the p/p?/p? chain: 20-ring") {
    check("ring", forms(ring), bounded, endpoints("p0", "p3"))
  }

  test("p{n,m} equals the p/p?/p? chain: chain") {
    check("chain", forms(line), bounded, endpoints("c1", "c4"))
  }

  test("p{n,m} equals the p/p?/p? chain: branching graph with a cycle") {
    check("branching", forms(branching), bounded, endpoints("a", "d"))
  }

  private val literalEnds = endpoints("x", "x") :+ ((TVar("x"), TConst(Term.lit("lit"))))

  test("p{n,m} equals the p/p?/p? chain: literal objects") {
    check("literals", forms(literals), bounded, literalEnds)
  }

  test("p{n,m} equals the p/p?/p? chain: two named graphs, default graph and GRAPH ?g") {
    check("named", namedForms, bounded, endpoints("n0", "n2"))
  }

  test("p+, p*, p{n,} equal the set reference on every fixture") {
    check("ring", forms(ring), unbounded, endpoints("p0", "p3"))
    check("chain", forms(line), unbounded, endpoints("c1", "c4"))
    check("branching", forms(branching), unbounded, endpoints("a", "d"))
    check("literals", forms(literals), unbounded, literalEnds)
    check("named", namedForms, unbounded, endpoints("n0", "n2"))
  }

  test("a 70-hop chain: the distributed loop reaches its end without task failures") {
    val hops = 70
    val q = quads(knows("g", (0 until hops).map(i => (s"c$i", s"c${i + 1}")): _*))
    // (path, s, o) -> rows; 70 rounds each, so the 4 run at once
    val cases = Seq(
      (PRange(knowsP, 1, None), iri("c0"), TVar("x")) -> hops,
      (PRange(knowsP, 0, None), iri("c0"), TVar("x")) -> (hops + 1),
      (PRange(knowsP, 2, None), iri("c0"), TVar("x")) -> (hops - 1),
      (PRange(knowsP, 1, None), TVar("x"), TVar("y")) -> hops * (hops + 1) / 2)
    val listener = new JobCounter(s"long-chain-${System.nanoTime()}")
    spark.sparkContext.addSparkListener(listener)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cases.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val counted = Future.traverse(cases) { case ((p, s, o), _) => Future {
        try PathCompiler.compile(q, s, p, o, None, None, 0L).count()
        finally graft.Caches.release()
      } }
      assert(Await.result(counted, 10.minutes) == cases.map(_._2))
      listener.drain()
    } finally {
      pool.shutdown()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(listener.failedTasks == 0, s"${listener.failedTasks} failed tasks")
  }

  test("parser emits one PRange node for every quantifier") {
    def pathOf(q: String): PathExpr = SparqlParser.parse(q).pattern match {
      case PPath(_, p, _) => p
      case other => fail(s"not a path pattern: $other")
    }
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{1,3} ?x }") == PRange(knowsP, 1, Some(3)))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{2} ?x }") == PRange(knowsP, 2, Some(2)))
    assert(pathOf("SELECT ?x WHERE { <a> ^schema:knows{1,2} ?x }") ==
      PRange(PInverse(knowsP), 1, Some(2)))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{2,} ?x }") == PRange(knowsP, 2, None))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows{0,} ?x }") == PRange(knowsP, 0, None))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows* ?x }") == PRange(knowsP, 0, None))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows+ ?x }") == PRange(knowsP, 1, None))
    assert(pathOf("SELECT ?x WHERE { <a> schema:knows? ?x }") == PRange(knowsP, 0, Some(1)))
  }

  /** Counts the jobs started in one job group, and the failed tasks of any
    * job. [[drain]] runs a marker job and waits for its end event, which the
    * listener sees only after every event posted before it. */
  private final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    @volatile var failedTasks = 0
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
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) failedTasks += 1
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(marker, "drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
  }

  /** The rows of a warm request over `Store.quads`/`Store.triples` at
    * sf0.001 and the jobs its third call runs. */
  private def warmJobs(q: String): (Seq[String], Int) = {
    def run(): Seq[String] = {
      val rows = SparqlEngine.select(Store.quads(spark, sf0001), q,
        defaultGraph = Some(Store.triples(spark, sf0001))).collect().map(_.getString(0)).sorted.toSeq
      graft.Caches.release()
      rows
    }
    val warm = { run(); run() }
    val group = s"path-range-jobs-${System.nanoTime()}"
    val counter = new JobCounter(group)
    spark.sparkContext.addSparkListener(counter)
    try {
      spark.sparkContext.setJobGroup(group, q, interruptOnCancel = false)
      try assert(run() == warm) finally spark.sparkContext.clearJobGroup()
      counter.drain()
    } finally spark.sparkContext.removeSparkListener(counter)
    (warm, counter.jobs)
  }

  /** Jobs of the request below when the parser chained `p/p?/p?`. */
  private val ChainJobs = 12

  test("a warm knows{1,3} request runs at most half the jobs of the p/p?/p? chain") {
    val (rows, jobs) = warmJobs("SELECT ?x WHERE { <person:0> schema:knows{1,3} ?x }")
    assert(rows == Seq("person:1", "person:2", "person:3"))
    info(s"$jobs jobs (chain: $ChainJobs)")
    assert(jobs == 1 && jobs <= ChainJobs / 2, s"$jobs jobs")
  }

  test("warm +, *, ?, {n,} requests run at most half the jobs of the closure engines") {
    val people = (0 until 20).map(i => s"person:$i").sorted
    // request -> (rows, jobs when the doubling and seeded closures
    // evaluated it)
    val requests = Seq(
      "<person:0> schema:knows+ ?x" -> (people, 10),
      "<person:0> schema:knows* ?x" -> (people, 13),
      "<person:0> schema:knows? ?x" -> (Seq("person:0", "person:1"), 6),
      "<person:0> schema:knows{2,} ?x" -> (people, 14),
      "<doc:1> schema:author/schema:knows+ ?x" -> (people, 12))
    val over = requests.flatMap { case (pattern, (expected, closureJobs)) =>
      val (rows, jobs) = warmJobs(s"SELECT ?x WHERE { $pattern }")
      assert(rows == expected, pattern)
      info(s"$pattern: $jobs jobs (closure engines: $closureJobs)")
      if (jobs > 0 && jobs <= closureJobs / 2) None else Some(s"$pattern: $jobs jobs")
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
