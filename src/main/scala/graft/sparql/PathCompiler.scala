package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property-path evaluation (`GraphPattern::Path`, reference handle.rs:4893).
  *
  * Paths evaluate over an edge DataFrame of ENCODED terms — each endpoint is
  * one string `kind\u0001value\u0001lang\u0001datatype` — so closure rounds
  * join on flat string keys (cheap shuffles, simple plans) and only the
  * final variable binding decodes back to term structs.
  *
  *  - link: predicate scan; inverse: swap; sequence: midpoint join;
  *    alternation: union-distinct.
  *  - `p+`: transitive closure — path *doubling* (⌈log₂ d⌉ rounds) while the
  *    accumulated pair set is small, falling back to frontier⋈base rounds
  *    (which shuffle only novel pairs) once it grows; a driver-side fixpoint
  *    producing DataFrames (SURVEY §4, the GraphFrames approach). Rounds are
  *    capped to bound adversarial cycles.
  *  - `p*`/`p?` add reflexive pairs over the path's own node domain (SPARQL's
  *    zero-length path over all graph terms, narrowed to connected nodes).
  *  - `p{n,m}`: a bounded level search ([[levels]]). Level k holds the
  *    positions a walk of exactly k hops reaches, and the result is the
  *    union of levels n..m; small inputs search on the driver, larger ones
  *    run at most m distributed rounds.
  */
object PathCompiler {

  val MaxClosureRounds = 64

  /** Above this pair count, stop doubling (acc⋈acc intermediate can blow up
    * cubically on long chains) and extend one hop at a time instead. */
  val DoublingMaxPairs = 100000L

  private val Sep = "\u0001"

  private def enc(kind: Column, value: Column, lang: Column, dt: Column): Column =
    concat_ws(Sep, kind.cast("string"), value, coalesce(lang, lit("")), coalesce(dt, lit("")))

  private def encTerm(t: Term): String =
    Seq(t.kind.toString, t.value, t.lang, t.datatype).mkString(Sep)

  private def decode(c: Column): Column = {
    val parts = split(c, Sep, 4)
    struct(element_at(parts, 1).cast("int").as("kind"),
      element_at(parts, 2).as("value"),
      element_at(parts, 3).as("lang"),
      element_at(parts, 4).as("datatype"))
  }

  /** Compile a path to an edge DF with encoded string columns (s, o).
    * `dflt` is a pre-deduped default-graph triples table ([[graft.Store]]):
    * when present, default-graph link scans read it directly and skip the
    * per-link set-dedup shuffle. `localMaxEdges` caps the driver-side
    * searches (see [[closure]]); 0 forces their distributed loops. */
  def edges(quads: DataFrame, path: PathExpr,
      graph: Option[TermPattern], dflt: Option[DataFrame] = None,
      localMaxEdges: Long = LocalClosureMaxEdges): DataFrame = path match {
    case PLink(iri) =>
      val deduped = graph.isEmpty && dflt.isDefined
      var df = (if (deduped) dflt.get else quads).filter(col("predicate") === iri)
      graph match {
        case Some(TConst(c)) => df = df.filter(col("graph_iri") === c.value)
        case _ =>
      }
      val out = df.select(
        enc(col("subject_kind"), col("subject"), lit(""), lit("")).as("s"),
        enc(col("obj_kind"), col("obj_value"), col("obj_lang"), col("obj_datatype")).as("o"))
      if (graph.isEmpty && !deduped) out.dropDuplicates() else out
    case PNps(fwd, inv) =>
      // !(F|^I) ≡ !(F) | ^(!(I)) — each side scans once with a NOT-IN
      // predicate filter (pushed to the parquet scan); multiple surviving
      // predicates can project to the same (s,o), so always set-dedup
      val deduped = graph.isEmpty && dflt.isDefined
      var base = if (deduped) dflt.get else quads
      graph match {
        case Some(TConst(c)) => base = base.filter(col("graph_iri") === c.value)
        case _ =>
      }
      def branch(excl: Seq[String], swap: Boolean): DataFrame = {
        val f = base.filter(!col("predicate").isin(excl: _*))
        val sCol = enc(col("subject_kind"), col("subject"), lit(""), lit(""))
        val oCol = enc(col("obj_kind"), col("obj_value"), col("obj_lang"), col("obj_datatype"))
        if (swap) f.select(oCol.as("s"), sCol.as("o"))
        else f.select(sCol.as("s"), oCol.as("o"))
      }
      val parts =
        (if (fwd.nonEmpty || inv.isEmpty) Seq(branch(fwd, swap = false)) else Nil) ++
          (if (inv.nonEmpty) Seq(branch(inv, swap = true)) else Nil)
      parts.reduce(_ union _).dropDuplicates()
    case PInverse(p) =>
      edges(quads, p, graph, dflt, localMaxEdges).select(col("o").as("s"), col("s").as("o"))
    case PSeq(l, r) =>
      val a = edges(quads, l, graph, dflt, localMaxEdges).select(col("s"), col("o").as("m"))
      val b = edges(quads, r, graph, dflt, localMaxEdges).select(col("s").as("m2"), col("o"))
      a.join(b, a("m") === b("m2")).select(col("s"), col("o")).dropDuplicates()
    case PAlt(l, r) =>
      edges(quads, l, graph, dflt, localMaxEdges).toDF("s", "o")
        .union(edges(quads, r, graph, dflt, localMaxEdges).toDF("s", "o")).dropDuplicates()
    case POneOrMore(p) =>
      closure(edges(quads, p, graph, dflt, localMaxEdges), localMaxEdges = localMaxEdges)
    case PZeroOrMore(p) =>
      val base = edges(quads, p, graph, dflt, localMaxEdges)
      closure(base, localMaxEdges = localMaxEdges).toDF("s", "o")
        .union(reflexive(base).toDF("s", "o")).dropDuplicates()
    case PZeroOrOne(p) =>
      val base = edges(quads, p, graph, dflt, localMaxEdges)
      base.toDF("s", "o").union(reflexive(base).toDF("s", "o")).dropDuplicates()
    case PRange(p, min, max) =>
      // var-var: the search starts from every node of the domain
      levels(edges(quads, p, graph, dflt, localMaxEdges), None, min, max, localMaxEdges)
        .toDF("s", "o")
  }

  /** zero-length pairs over the path's node domain. */
  private def reflexive(base: DataFrame): DataFrame =
    base.select(col("s").as("n"))
      .union(base.select(col("o").as("n")))
      .dropDuplicates()
      .select(col("n").as("s"), col("n").as("o"))

  /** lineage barrier — see [[graft.Caches.barrier]] for why localCheckpoint
    * cannot be used. The caller unpersists superseded rounds. */
  private def barrier(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) =
    graft.Caches.barrier(df)

  /** transitive closure fixpoint. Doubling phase: after k rounds `acc` holds
    * every path of length ≤ 2^k — ⌈log₂ d⌉ rounds for diameter d, ideal for
    * small/medium pair sets where per-job overhead dominates. Past
    * [[DoublingMaxPairs]] the acc⋈acc intermediate (Σ indeg·outdeg over
    * midpoints) can dwarf the closure itself, so large sets extend one hop
    * per round (frontier⋈base, shuffling only novel pairs). */
  /** Edge sets at or below this size TRY to close on the driver: a 20-edge
    * ring costs ⌈log₂ d⌉ distributed rounds (≈15 Spark jobs of pure
    * overhead) versus microseconds of in-memory BFS. 100k edges is a few MB
    * of strings on the driver — safe to collect — but the input cap alone
    * does not bound the output (all-pairs of a dense chain is |E|²/2
    * pairs), so [[LocalClosureMaxPairs]] bounds the OUTPUT as
    * it accumulates — past it the BFS aborts and the distributed fixpoint
    * takes over. Driver memory stays ≤ ~500k pairs either way. */
  val LocalClosureMaxEdges = 100000L

  /** Hard output bound for the driver-local BFS (pairs, not edges). */
  val LocalClosureMaxPairs = 500000

  /** Frontier sizes at or below this broadcast in the seeded-BFS step join
    * (composite-key strings — ~100 MB worst case, well inside executor
    * memory; larger frontiers fall back to the shuffle join). */
  val BfsBroadcastMaxRows = 1000000L

  /** all-pairs ≥1-step reachability of a small edge list, computed with an
    * interned-index BFS on the driver; None when the output outgrows
    * [[LocalClosureMaxPairs]] (caller falls back to the distributed path). */
  private def localClosure(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(String, String)]): Option[DataFrame] = {
    import spark.implicits._
    val ids = scala.collection.mutable.HashMap[String, Int]()
    def id(s: String): Int = ids.getOrElseUpdate(s, ids.size)
    val adj = scala.collection.mutable.HashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    edges.foreach { case (s, o) =>
      adj.getOrElseUpdate(id(s), scala.collection.mutable.ArrayBuffer()) += id(o)
    }
    val names = ids.toArray.sortBy(_._2).map(_._1)
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (src <- adj.keys) {
      val seen = new java.util.BitSet(ids.size)
      var frontier = adj(src)
      while (frontier.nonEmpty) {
        if (out.size > LocalClosureMaxPairs) return None
        val next = scala.collection.mutable.ArrayBuffer[Int]()
        frontier.foreach { n =>
          if (!seen.get(n)) {
            seen.set(n)
            out += ((names(src), names(n)))
            adj.get(n).foreach(next ++= _)
          }
        }
        frontier = next
      }
    }
    if (out.size > LocalClosureMaxPairs) None
    else Some(out.toSeq.toDF("s", "o"))
  }

  def closure(base0: DataFrame,
      doublingMaxPairs: Long = DoublingMaxPairs,
      localMaxEdges: Long = LocalClosureMaxEdges): DataFrame = {
    var (acc, accRdd) = barrier(base0.dropDuplicates())
    val base = acc
    val baseRdd = accRdd
    var count = acc.count()
    if (count <= localMaxEdges) {
      val edges = base.select(col("s"), col("o")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      localClosure(base.sparkSession, edges) match {
        case Some(local) =>
          baseRdd.unpersist(blocking = false)
          return local
        case None => // output outgrew the driver bound; run distributed
      }
    }
    var frontier = acc
    var frontierRdd: org.apache.spark.rdd.RDD[_] = null
    var rounds = 0
    var done = count == 0
    while (!done && rounds < MaxClosureRounds) {
      val extended =
        if (count <= doublingMaxPairs)
          acc.as("a").join(acc.as("b"), col("a.o") === col("b.s"))
            .select(col("a.s").as("s"), col("b.o").as("o"))
        else
          frontier.as("f").join(base.as("b"), col("f.o") === col("b.s"))
            .select(col("f.s").as("s"), col("b.o").as("o"))
      val (next, nextRdd) = barrier(acc.union(extended).dropDuplicates())
      val nextCount = next.count()
      if (nextCount == count) {
        nextRdd.unpersist(blocking = false)
        done = true
      } else {
        val (novel, novelRdd) = barrier(next.join(acc, Seq("s", "o"), "left_anti"))
        if (frontierRdd != null) frontierRdd.unpersist(blocking = false)
        if (accRdd ne baseRdd) accRdd.unpersist(blocking = false)
        frontier = novel
        frontierRdd = novelRdd
        acc = next
        accRdd = nextRdd
        count = nextCount
        rounds += 1
      }
    }
    if (frontierRdd != null) frontierRdd.unpersist(blocking = false)
    // per-round counts already materialized accRdd, so base is releasable
    // NOW; the returned result's cache must outlive this call (the consumer
    // has not run its action yet), so the caller releases it.
    if (accRdd ne baseRdd) baseRdd.unpersist(blocking = false)
    graft.Caches.track(accRdd)
    acc
  }

  // ---------------------------------------------------------------------
  // seeded evaluation — constant endpoints never compute a global closure
  // ---------------------------------------------------------------------

  /** Structural reverse: reverse(p) matches (o, s) iff p matches (s, o). */
  private def reverse(p: PathExpr): PathExpr = p match {
    case PLink(i) => PInverse(PLink(i))
    case PNps(f, i) => PNps(i, f)
    case PInverse(q) => q
    case PSeq(l, r) => PSeq(reverse(r), reverse(l))
    case PAlt(l, r) => PAlt(reverse(l), reverse(r))
    case POneOrMore(q) => POneOrMore(reverse(q))
    case PZeroOrMore(q) => PZeroOrMore(reverse(q))
    case PZeroOrOne(q) => PZeroOrOne(reverse(q))
    case PRange(q, min, max) => PRange(reverse(q), min, max)
  }

  /** node domain of an edge set (for zero-length path membership). */
  private def nodes(base: DataFrame): DataFrame =
    base.select(col("s").as("n")).union(base.select(col("o").as("n"))).dropDuplicates()

  /** One path application over a position set `cur` (seed, n). */
  private def step(cur: DataFrame, base: DataFrame): DataFrame =
    cur.as("c").join(base.as("b"), col("c.n") === col("b.s"))
      .select(col("c.seed").as("seed"), col("b.o").as("n")).dropDuplicates()

  /** Seeded evaluation: positions (seed, n) reachable from `cur` via `path`.
    * Closures run a frontier⋈base fixpoint from the seeds only — the work is
    * O(|reachable|), never the whole-graph transitive closure, which is the
    * difference between one seed's neighborhood and Θ(V·E) at 100 TB. */
  private def evalFrom(quads: DataFrame, path: PathExpr,
      graph: Option[TermPattern], cur: DataFrame,
      dflt: Option[DataFrame], localMaxEdges: Long): DataFrame = path match {
    case PSeq(l, r) =>
      evalFrom(quads, r, graph, evalFrom(quads, l, graph, cur, dflt, localMaxEdges), dflt,
        localMaxEdges)
    case PAlt(l, r) =>
      evalFrom(quads, l, graph, cur, dflt, localMaxEdges)
        .union(evalFrom(quads, r, graph, cur, dflt, localMaxEdges))
        .dropDuplicates()
    case POneOrMore(p) => seededClosure(edges(quads, p, graph, dflt, localMaxEdges), cur)
    case PZeroOrMore(p) =>
      val base = edges(quads, p, graph, dflt, localMaxEdges)
      cur.join(nodes(base), Seq("n"), "left_semi") // zero-length: n in the domain
        .select(col("seed"), col("n")) // using-join put the key first; realign
        .union(seededClosure(base, cur)).dropDuplicates()
    case PZeroOrOne(p) =>
      val base = edges(quads, p, graph, dflt, localMaxEdges)
      cur.join(nodes(base), Seq("n"), "left_semi")
        .select(col("seed"), col("n"))
        .union(step(cur, base)).dropDuplicates()
    case PRange(p, min, max) =>
      levels(edges(quads, p, graph, dflt, localMaxEdges), Some(cur), min, max, localMaxEdges)
    case leaf => step(cur, edges(quads, leaf, graph, dflt, localMaxEdges))
  }

  /** Bounded level search for `p{min,max}` over the edge set `base0`:
    * (seed, n) positions that a walk of k hops leads to from a start
    * position, for some k in min..max. Level k is the FULL set of k-hop
    * positions, not the novel ones: a node an earlier level reached counts
    * again when a longer walk in range reaches it (cycles included). Level 0
    * counts only for a start inside the node domain of `base0`, the
    * zero-length convention of `*` and `?`. `cur` holds the start positions;
    * None starts from every domain node n as (n, n) — the var-var form.
    *
    * When both inputs are small the search runs on the driver: each is
    * collected once under `limit(bound + 1)` (`localMaxEdges` for the
    * edges, [[LocalClosureMaxPairs]] for the positions) and deduped there. A hit limit, or more than [[LocalClosureMaxPairs]] positions
    * held across all levels, falls back to a distributed loop of at most
    * `max` rounds, each round one barriered step. */
  private def levels(base0: DataFrame, cur: Option[DataFrame], min: Int, max: Int,
      localMaxEdges: Long): DataFrame = {
    val spark = base0.sparkSession
    import spark.implicits._
    def pairs(df: DataFrame, a: String, b: String, bound: Long): Option[Array[(String, String)]] = {
      val rows = df.select(col(a), col(b)).limit((bound + 1).toInt).collect()
      if (rows.length > bound) None else Some(rows.map(r => (r.getString(0), r.getString(1))))
    }
    val local = for {
      e <- pairs(base0, "s", "o", localMaxEdges)
      c <- cur match {
        case Some(df) => pairs(df, "seed", "n", LocalClosureMaxPairs).map(Some(_))
        case None => Some(None)
      }
      out <- localLevels(e, c, min, max)
    } yield out
    local match {
      case Some(out) => out.toDF("seed", "n")
      case None => distributedLevels(base0, cur, min, max)
    }
  }

  /** [[levels]] on the driver over interned node ids; None once more than
    * [[LocalClosureMaxPairs]] positions are held across all levels. */
  private def localLevels(edges: Array[(String, String)],
      starts: Option[Array[(String, String)]], min: Int, max: Int)
      : Option[Seq[(String, String)]] = {
    val ids = scala.collection.mutable.HashMap[String, Int]()
    val es = edges.distinct.map { case (s, o) =>
      (ids.getOrElseUpdate(s, ids.size), ids.getOrElseUpdate(o, ids.size)) }
    val names = new Array[String](ids.size)
    ids.foreach { case (n, i) => names(i) = n }
    val adj = es.groupMap(_._1)(_._2)
    // a start outside the domain has no successor and no zero-length match
    val seeds: Iterable[(String, Array[Int])] = starts match {
      case Some(cs) => cs.groupMap(_._1)(_._2).map { case (seed, ns) =>
        (seed, ns.distinct.flatMap(ids.get)) }
      case None => names.indices.map(i => (names(i), Array(i)))
    }
    // stamps instead of per-level sets: a node is in the level being built
    // when levelMark(n) == round, and already emitted for a seed when
    // emitted(n) == that seed's index
    val levelMark = Array.fill(names.length)(-1)
    val emitted = Array.fill(names.length)(-1)
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var held = 0L
    var round = 0
    for (((seed, start), si) <- seeds.zipWithIndex) {
      def emit(level: Array[Int]): Unit = level.foreach { n =>
        if (emitted(n) != si) { emitted(n) = si; out += ((seed, names(n))) }
      }
      var level = start
      held += level.length
      if (min == 0) emit(level)
      var k = 0
      while (k < max && level.nonEmpty) {
        round += 1
        val next = scala.collection.mutable.ArrayBuffer[Int]()
        level.foreach(n => adj.getOrElse(n, Array.empty[Int]).foreach { m =>
          if (levelMark(m) != round) { levelMark(m) = round; next += m }
        })
        level = next.toArray
        k += 1
        held += level.length
        if (held > LocalClosureMaxPairs) return None
        if (k >= min) emit(level)
      }
    }
    Some(out.toSeq)
  }

  /** [[levels]] as at most `max` distributed rounds: round k steps level
    * k-1 over the barriered edge set into a barrier of its own. The levels
    * in range stay cached for the returned frame and are registered with
    * [[graft.Caches]]; the others are released as soon as the next level
    * is materialized. */
  private def distributedLevels(base0: DataFrame, cur: Option[DataFrame],
      min: Int, max: Int): DataFrame = {
    val (base, baseRdd) = barrier(base0.dropDuplicates())
    val start = cur.getOrElse(nodes(base).select(col("n").as("seed"), col("n")))
    val kept = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (min == 0)
      kept += start.join(nodes(base), Seq("n"), "left_semi").select(col("seed"), col("n"))
    var level = start
    var levelRdd: org.apache.spark.rdd.RDD[_] = null
    var size = Long.MaxValue // unknown for the start positions
    var k = 0
    while (k < max && size > 0) {
      val (next, nextRdd) = barrier(step(maybeBroadcast(level, size), base))
      size = next.count()
      if (levelRdd != null && k < min) levelRdd.unpersist(blocking = false)
      k += 1
      level = next
      levelRdd = nextRdd
      if (k >= min) { kept += next; graft.Caches.track(nextRdd) }
    }
    if (k < min && levelRdd != null) levelRdd.unpersist(blocking = false)
    // level 0 reads the edge set lazily; no other kept level does
    if (min == 0) graft.Caches.track(baseRdd) else baseRdd.unpersist(blocking = false)
    kept.reduceOption(_ union _).getOrElse(start.filter(lit(false)))
      .dropDuplicates()
  }

  /** Broadcast a frontier while its exact count (known from the previous
    * round's barrier) stays under [[BfsBroadcastMaxRows]]: both sides of a
    * round's join are LogicalRDD barriers whose size Catalyst cannot see. */
  private def maybeBroadcast(df: DataFrame, exactRows: Long): DataFrame =
    if (exactRows <= BfsBroadcastMaxRows) broadcast(df) else df

  /** Seeded transitive reachability: (seed, n) pairs reachable in >= 1 step.
    *
    * Small edge sets (≤ [[DoublingMaxPairs]]) take the log-rounds doubling
    * closure and join the seeds afterwards — at that size the global closure
    * is trivially cheap and doubling needs ⌈log₂ d⌉ rounds instead of d.
    * Large edge sets run a frontier⋈base BFS from the seeds only: work is
    * O(|reachable from seeds|) per round, never the whole-graph closure —
    * the property that keeps one-seed queries viable at 100 TB. */
  def seededClosure(base0: DataFrame, seeds: DataFrame,
      doublingMaxPairs: Long = DoublingMaxPairs): DataFrame = {
    val (base, baseRdd) = barrier(base0.dropDuplicates())
    if (base.count() <= doublingMaxPairs) {
      val out = seeds.as("c").join(closure(base).as("b"), col("c.n") === col("b.s"))
        .select(col("c.seed").as("seed"), col("b.o").as("n")).dropDuplicates()
      // closure() materialized (and tracked) its own result; base is only
      // needed again if that cache is evicted, so recompute-from-lineage
      // covers it — release now instead of leaking for the session.
      baseRdd.unpersist(blocking = false)
      return out
    }
    // per-round joins: the frontier is usually orders of magnitude smaller
    // than the edge relation — without a hint every round pays a full
    // sort-merge of the edge set; past the threshold the plain shuffle join
    // is the correct plan.
    var (visited, visitedRdd) = barrier(step(seeds, base))
    var frontier = visited
    var frontierRdd = visitedRdd
    var frontierCnt = visited.count()
    var rounds = 1
    var growing = frontierCnt > 0
    while (growing && rounds < MaxClosureRounds) {
      val stepped = step(maybeBroadcast(frontier, frontierCnt), base)
      val (novel, novelRdd) = barrier(stepped.join(visited, Seq("seed", "n"), "left_anti"))
      if (frontierRdd ne visitedRdd) frontierRdd.unpersist(blocking = false)
      val novelCnt = novel.count()
      if (novelCnt == 0) {
        novelRdd.unpersist(blocking = false)
        frontierRdd = visitedRdd // nothing separate left to release
        growing = false
      } else {
        val (nv, nvRdd) = barrier(visited.union(novel))
        visitedRdd.unpersist(blocking = false)
        visited = nv; visitedRdd = nvRdd
        frontier = novel; frontierRdd = novelRdd
        frontierCnt = novelCnt
        rounds += 1
      }
    }
    if (frontierRdd ne visitedRdd) frontierRdd.unpersist(blocking = false)
    baseRdd.unpersist(blocking = false)
    graft.Caches.track(visitedRdd)
    visited
  }

  // ---------------------------------------------------------------------
  // GRAPH ?var evaluation — composite (graph, node) keys
  // ---------------------------------------------------------------------

  private val GSep = "\u0002"

  /** `GRAPH ?g { s path o }`: the path evaluates independently inside every
    * named graph. Nodes are prefixed with their graph (`g<U+0002>node`), so
    * every edge operation — sequence joins, closures, zero-length domains —
    * stays inside its graph by key construction, and ONE evaluation covers
    * all graphs (no per-graph loop). Constant endpoints pre-restrict the
    * scan to graphs containing the constant (broadcast semi-join) before
    * any fixpoint, bounding closure work to the graphs that can match. */
  def compileGraphVar(quads: DataFrame, s: TermPattern, path: PathExpr,
      o: TermPattern, gvar: String,
      localMaxEdges: Long = LocalClosureMaxEdges): DataFrame = {
    val (vs, vo) = (s, o) match {
      case (TVar(a), TVar(b)) => (a, b)
      case (TVar(a), _) => (a, "__path_o")
      case (_, TVar(b)) => ("__path_s", b)
      case _ => ("__path_s", "__path_o")
    }
    if (gvar == vs || gvar == vo)
      throw new SparqlParseException(
        s"graph variable ?$gvar reused as a path endpoint is not supported")
    val constEndpoint = Seq(s, o).collectFirst { case TConst(t) => t }
    val scoped = constEndpoint match {
      case Some(t) =>
        val gs = quads.filter(col("subject") === t.value).select(col("graph_iri"))
          .union(quads.filter(col("obj_value") === t.value &&
            col("obj_kind") === t.kind).select(col("graph_iri")))
          .distinct()
        quads.join(broadcast(gs), Seq("graph_iri"), "left_semi")
      case None => quads
    }
    val composite = scoped
      .withColumn("subject", concat_ws(GSep, col("graph_iri"), col("subject")))
      .withColumn("obj_value", concat_ws(GSep, col("graph_iri"), col("obj_value")))
    val sameVar = vs == vo
    val raw = compile(composite, TVar(vs), path, TVar(vo), None, None, localMaxEdges)
    def termStruct(t: Term) = struct(lit(t.kind).as("kind"), lit(t.value).as("value"),
      lit(t.lang).as("lang"), lit(t.datatype).as("datatype"))
    def strip(c: Column) = struct(c.getField("kind").as("kind"),
      element_at(split(c.getField("value"), GSep, 2), 2).as("value"),
      c.getField("lang").as("lang"), c.getField("datatype").as("datatype"))
    // the graph prefix is identical on every endpoint (edges never cross
    // graphs) — read it off the first bound column, then de-prefix all
    val first = raw.columns.head
    var out = raw.withColumn(gvar,
      struct(lit(Kind.Iri).as("kind"),
        substring_index(raw(first).getField("value"), GSep, 1).as("value"),
        lit("").as("lang"), lit("").as("datatype")))
    raw.columns.foreach(c => out = out.withColumn(c, strip(out(c))))
    s match {
      case TConst(t) => out = out.filter(out(vs) === termStruct(t)).drop(vs)
      case _ =>
    }
    o match {
      case TConst(t) if !sameVar =>
        out = out.filter(out(vo) === termStruct(t)).drop(vo)
      case _ =>
    }
    if (constEndpoint.isDefined) out.dropDuplicates() else out
  }

  private def seedDf(quads: DataFrame, t: Term): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val e = encTerm(t)
    Seq((e, e)).toDF("seed", "n")
  }

  /** Bind a compiled path into a solution DataFrame for (s, path, o).
    * Constant endpoints evaluate seeded (frontier-only closures); the
    * var-var case needs the full path relation. `localMaxEdges` is as in
    * [[edges]]. */
  def compile(quads: DataFrame, s: TermPattern, path: PathExpr, o: TermPattern,
      graph: Option[TermPattern], dflt: Option[DataFrame] = None,
      localMaxEdges: Long = LocalClosureMaxEdges): DataFrame = (s, o) match {
    case (TVar(vs), TVar(vo)) if vs == vo =>
      val e = edges(quads, path, graph, dflt, localMaxEdges)
      e.filter(col("s") === col("o")).select(decode(col("s")).as(vs))
    case (TVar(vs), TVar(vo)) =>
      val e = edges(quads, path, graph, dflt, localMaxEdges)
      e.select(decode(col("s")).as(vs), decode(col("o")).as(vo))
    case (TConst(ts), TVar(vo)) =>
      evalFrom(quads, path, graph, seedDf(quads, ts), dflt, localMaxEdges)
        .select(decode(col("n")).as(vo))
    case (TVar(vs), TConst(to)) =>
      evalFrom(quads, reverse(path), graph, seedDf(quads, to), dflt, localMaxEdges)
        .select(decode(col("n")).as(vs))
    case (TConst(ts), TConst(to)) =>
      // boolean existence: empty or single-row unit solution
      evalFrom(quads, path, graph, seedDf(quads, ts), dflt, localMaxEdges)
        .filter(col("n") === encTerm(to))
        .limit(1).select(lit(1).as("__unit"))
  }
}
