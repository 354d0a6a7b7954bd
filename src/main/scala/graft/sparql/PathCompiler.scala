package graft.sparql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property-path evaluation (`GraphPattern::Path`, reference handle.rs:4893).
  *
  * Paths evaluate over an edge DataFrame of ENCODED terms — each endpoint is
  * one string `kind\u0001value\u0001lang\u0001datatype` — so search rounds
  * join on flat string keys (cheap shuffles, simple plans) and only the
  * final variable binding decodes back to term structs.
  *
  *  - link: predicate scan; inverse: swap; sequence: midpoint join;
  *    alternation: union-distinct.
  *  - quantifiers (`p+` is `p{1,}`, `p*` is `p{0,}`, `p?` is `p{0,1}`): one
  *    level search ([[levels]]). Level k holds the positions a walk of
  *    exactly k hops reaches, and the result is the union of the levels in
  *    range. An unbounded range drops, once the walk reaches `min` hops, the
  *    positions a start has already reached, so a cycle ends the search
  *    without a round cap. Small inputs search on the driver; larger ones
  *    run one distributed round per level.
  */
object PathCompiler {

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
    * search (see [[levels]]); 0 forces its distributed loop. */
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
    case PRange(p, min, max) =>
      // var-var: the search starts from every node of the domain
      levels(edges(quads, p, graph, dflt, localMaxEdges), None, min, max, localMaxEdges)
        .toDF("s", "o")
  }


  /** [[graft.Caches.barrier]] for a search level, behind an RDD shuffle.
    * The generated code of a round's aggregate holds its plan, and the plan
    * reaches the barrier of the level the round read, so a chain of plain
    * barriers puts every earlier round into each task: a 70-hop walk
    * overflowed the stack deserializing one. An RDD shuffle's parent is
    * transient, so a level's tasks carry their own round only; its rows
    * still recompute from lineage once released. */
  private def levelBarrier(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
    val rdd = rows.repartition(math.max(1, rows.getNumPartitions)).cache()
    (org.apache.spark.sql.graftnative.Native.internalOfRows(df.sparkSession, rdd, df.schema), rdd)
  }

  /** Edge sets at or below this size search on the driver ([[levels]]): a
    * distributed round costs a few Spark jobs of pure overhead, against
    * microseconds of in-memory stepping. 100k edges is a few MB of strings
    * on the driver — safe to collect — but the input cap alone does not
    * bound the output (all-pairs of a dense chain is |E|²/2 pairs), so
    * [[LocalClosureMaxPairs]] bounds the positions as they accumulate; past
    * it the distributed loop takes over. */
  val LocalClosureMaxEdges = 100000L

  /** Hard bound on the positions the driver-side search holds. */
  val LocalClosureMaxPairs = 500000

  /** Level and pruning-set sizes at or below this broadcast in a round's
    * joins (composite-key strings — ~100 MB worst case, well inside
    * executor memory; larger sets fall back to the shuffle join). */
  val BfsBroadcastMaxRows = 1000000L

  /** Structural reverse: reverse(p) matches (o, s) iff p matches (s, o). */
  private def reverse(p: PathExpr): PathExpr = p match {
    case PLink(i) => PInverse(PLink(i))
    case PNps(f, i) => PNps(i, f)
    case PInverse(q) => q
    case PSeq(l, r) => PSeq(reverse(r), reverse(l))
    case PAlt(l, r) => PAlt(reverse(l), reverse(r))
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
    * Quantifiers search from the seeds only — the work is O(|reachable|),
    * never the whole-graph path relation, which is the difference between
    * one seed's neighborhood and Θ(V·E) at 100 TB. */
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
    case PRange(p, min, max) =>
      levels(edges(quads, p, graph, dflt, localMaxEdges), Some(cur), min, max, localMaxEdges)
    case leaf => step(cur, edges(quads, leaf, graph, dflt, localMaxEdges))
  }

  /** Level search for `p{min,max}` over the edge set `base0` (`max` None:
    * unbounded): (seed, n) positions that a walk of k hops leads to from a
    * start position, for some k in min..max. `cur` holds the start
    * positions; None starts from every domain node n as (n, n) — the
    * var-var form. Level 0 counts only for a start inside the node domain
    * of `base0`, the zero-length convention of `*` and `?`.
    *
    * With a finite `max`, level k is the FULL set of k-hop positions: a node
    * an earlier level reached counts again when a longer walk in range
    * reaches it (cycles included). With no `max`, a level drops the
    * positions already emitted for its start. A node k ≥ min hops away is
    * reachable in ≥ 0 hops from level `min`, so the pruned walk emits the
    * same set, and it ends, cycles included, when a level brings nothing new.
    *
    * When both inputs are small the search runs on the driver: each is
    * collected once under `limit(bound + 1)` (`localMaxEdges` for the
    * edges, [[LocalClosureMaxPairs]] for the positions) and deduped there.
    * A hit limit, or more than [[LocalClosureMaxPairs]] positions held
    * across all levels, falls back to a distributed loop of one round per
    * level. */
  private[sparql] def levels(base0: DataFrame, cur: Option[DataFrame], min: Int,
      max: Option[Int], localMaxEdges: Long): DataFrame = {
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
      starts: Option[Array[(String, String)]], min: Int, max: Option[Int])
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
      // unbounded: skip what this seed has emitted (nothing before level min)
      def fresh(m: Int): Boolean =
        levelMark(m) != round && (max.isDefined || emitted(m) != si)
      var level = start
      held += level.length
      if (min == 0) emit(level)
      var k = 0
      while (max.forall(k < _) && level.nonEmpty) {
        round += 1
        val next = scala.collection.mutable.ArrayBuffer[Int]()
        level.foreach(n => adj.getOrElse(n, Array.empty[Int]).foreach { m =>
          if (fresh(m)) { levelMark(m) = round; next += m }
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

  /** [[levels]] as distributed rounds: round k steps level k-1 over the
    * barriered edge set into a barrier of its own; with no `max`, the step
    * first drops the positions of the levels kept so far. A level's lineage
    * reaches back only to its round's shuffle and the barriers it reads, so
    * a long walk does not deepen it. The levels in range stay cached for
    * the returned frame and are registered with [[graft.Caches]]; the
    * others are released as soon as the next level is materialized. */
  private def distributedLevels(base0: DataFrame, cur: Option[DataFrame],
      min: Int, max: Option[Int]): DataFrame = {
    val (base, baseRdd) = graft.Caches.barrier(base0.dropDuplicates())
    val start = cur.getOrElse(nodes(base).select(col("n").as("seed"), col("n")))
    val kept = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var keptRows = 0L
    var level = start
    var levelRdd: org.apache.spark.rdd.RDD[_] = null
    var size = Long.MaxValue // unknown for the start positions
    def materialize(df: DataFrame, k: Int): Unit = {
      val (next, nextRdd) = levelBarrier(df)
      size = next.count()
      if (levelRdd != null && k <= min) levelRdd.unpersist(blocking = false)
      level = next
      levelRdd = nextRdd
      if (k >= min) { kept += next; keptRows += size; graft.Caches.track(nextRdd) }
    }
    if (min == 0)
      materialize(start.join(nodes(base), Seq("n"), "left_semi").select(col("seed"), col("n")), 0)
    var k = 0
    while (max.forall(k < _) && size > 0) {
      val stepped = step(maybeBroadcast(level, size), base)
      k += 1
      materialize(
        if (max.isEmpty && kept.nonEmpty)
          stepped.join(maybeBroadcast(kept.reduce(_ union _), keptRows), Seq("seed", "n"),
            "left_anti")
        else stepped, k)
    }
    if (k < min && levelRdd != null) levelRdd.unpersist(blocking = false)
    baseRdd.unpersist(blocking = false)
    kept.reduceOption(_ union _).getOrElse(start.filter(lit(false)))
      .dropDuplicates()
  }

  /** Broadcast a frame while its exact count (known from its barrier)
    * stays under [[BfsBroadcastMaxRows]]: both sides of a round's join are
    * LogicalRDD barriers whose size Catalyst cannot see. */
  private def maybeBroadcast(df: DataFrame, exactRows: Long): DataFrame =
    if (exactRows <= BfsBroadcastMaxRows) broadcast(df) else df

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
