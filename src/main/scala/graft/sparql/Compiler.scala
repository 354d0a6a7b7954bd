package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles SPARQL algebra bottom-up to DataFrame operations over the
  * `quads` table (SURVEY §3.1 "Spark shape"). Each solution variable is one
  * struct column `(kind, value, lang, datatype)`; unbound = NULL.
  *
  * Semantics ported from the reference evaluator:
  *  - BGP outside GRAPH evaluates against the default graph, which the
  *    reference builds as a *set* union of all visible graphs
  *    (`handle.rs:4999-5008` inserts each quad under its named graph and the
  *    default graph; oxrdf Datasets dedup) → pattern scans dedup over their
  *    variable columns. Inside GRAPH g {} no dedup happens.
  *  - OPTIONAL's filter expression is evaluated in join scope
  *    (`handle.rs:4851-4860`) → compiled into the join condition, never as a
  *    post-filter.
  *  - MINUS with disjoint variable domains removes nothing (SPARQL
  *    compatibility semantics, `handle.rs:4848`).
  *
  * Scale: every step is a narrow DataFrame op (filter/join/agg) that Catalyst
  * optimizes; constant positions of triple patterns are pushed into the
  * parquet scan of `quads` (partitioned by graph at scale). The reference's
  * per-query full materialization (`handle.rs:4948-5008`) is deliberately NOT
  * ported — scans stay lazy and columnar.
  */
object Compiler {

  val termType: StructType = StructType(Seq(
    StructField("kind", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("datatype", StringType, nullable = false)))

  private def termStruct(t: Term): Column =
    struct(lit(t.kind).as("kind"), lit(t.value).as("value"),
      lit(t.lang).as("lang"), lit(t.datatype).as("datatype"))

  private def mkTerm(kind: Column, value: Column, lang: Column, dt: Column): Column =
    struct(kind.cast(IntegerType).as("kind"), value.as("value"),
      coalesce(lang, lit("")).as("lang"), coalesce(dt, lit("")).as("datatype"))

  /** Variables of a pattern (the in-scope domain). */
  def patternVars(p: Pattern): Seq[String] = p match {
    case BGP(ts) => ts.flatMap(_.vars).distinct
    case PFilter(_, q) => patternVars(q)
    case PJoin(l, r) => (patternVars(l) ++ patternVars(r)).distinct
    case PLeftJoin(l, r, _) => (patternVars(l) ++ patternVars(r)).distinct
    case PUnion(l, r) => (patternVars(l) ++ patternVars(r)).distinct
    case PMinus(l, _) => patternVars(l)
    case PExtend(q, v, _) => (patternVars(q) :+ v).distinct
    case PGraph(g, q) =>
      (patternVars(q) ++ (g match { case TVar(n) => Seq(n); case _ => Nil })).distinct
    case PValues(vars, _) => vars
    case PGroup(_, keys, aggs) => keys ++ aggs.map(_.as)
    case PPath(s, _, o) =>
      Seq(s, o).collect { case TVar(n) => n }.distinct
    case PSub(q) =>
      if (q.projection.nonEmpty) q.projection
      else if (q.aggregates.nonEmpty || q.groupKeys.nonEmpty)
        (q.groupKeys ++ q.aggregates.map(_.as)).filterNot(_.startsWith("__"))
      else patternVars(q.pattern)
  }

  // =====================================================================
  // pattern compilation
  // =====================================================================

  def compile(quads: DataFrame, p: Pattern): DataFrame =
    compileP(quads, p, None, None)

  /** Compile with a pre-deduped default-graph triples table ([[graft.Store]]):
    * default-graph pattern scans read `defaultGraph` directly and skip the
    * per-pattern set-dedup shuffle (the table IS the set union of all graphs).
    * GRAPH-scoped scans still use `quads`. */
  def compile(quads: DataFrame, p: Pattern, defaultGraph: Option[DataFrame]): DataFrame =
    compileP(quads, p, None, defaultGraph)

  private def compileP(quads: DataFrame, p: Pattern, graph: Option[TermPattern],
      dflt: Option[DataFrame] = None): DataFrame =
    p match {
      case BGP(Nil) =>
        // the empty group: a single empty solution
        quads.sparkSession.range(1).select(lit(1).as("__unit"))
      case BGP(triples) =>
        // selectivity heuristic: scan the most-constrained patterns first so
        // early joins are small (Catalyst lacks stats to reorder these)
        val ordered = triples.sortBy { t =>
          -Seq(t.s, t.p, t.o).count(_.isInstanceOf[TConst])
        }
        ordered.map(scanTriple(quads, _, graph, dflt)).reduce(join(_, _, Set.empty))
      case PPath(s, path, o) =>
        graph match {
          case Some(TVar(gv)) => PathCompiler.compileGraphVar(quads, s, path, o, gv)
          case _ => PathCompiler.compile(quads, s, path, o, graph, dflt)
        }
      case PFilter(EExists(sub, negated), q) =>
        val left = compileP(quads, q, graph, dflt)
        val right = compileP(quads, sub, graph, dflt)
        semiJoin(left, right, anti = negated)
      case PFilter(expr, q) =>
        val df = compileP(quads, q, graph, dflt)
        df.filter(ExprCompiler.toBool(expr, n => df(n)))
      case PJoin(l, r) =>
        join(compileP(quads, l, graph, dflt), compileP(quads, r, graph, dflt),
          nullableVars(l) ++ nullableVars(r))
      case PLeftJoin(l, r, expr) =>
        leftJoin(compileP(quads, l, graph, dflt), compileP(quads, r, graph, dflt), expr)
      case PUnion(l, r) => union(compileP(quads, l, graph, dflt), compileP(quads, r, graph, dflt))
      case PMinus(l, r) =>
        val left = compileP(quads, l, graph, dflt)
        val right = compileP(quads, r, graph, dflt)
        val shared = solutionVars(left).intersect(solutionVars(right))
        if (shared.isEmpty) left // disjoint domains: MINUS removes nothing
        else semiJoin(left, right, anti = true)
      case PExtend(q, v, expr) =>
        val df = compileP(quads, q, graph, dflt)
        df.withColumn(v, ExprCompiler.toTerm(expr, n => df(n)))
      case PGraph(g, q) => compileP(quads, q, Some(g))
      case PValues(vars, rows) =>
        val spark = quads.sparkSession
        val schema = StructType(vars.map(v => StructField(v, termType, nullable = true)))
        val data = rows.map { row =>
          Row.fromSeq(row.map {
            case Some(t) => Row(t.kind, t.value, t.lang, t.datatype)
            case None => null
          })
        }
        // LocalRelation, NOT parallelize→LogicalRDD: a VALUES block is
        // bounded by the query text, and the known size lets Catalyst
        // broadcast the join (the RDD form hid the stats → sort-merge)
        spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      case PGroup(q, keys, aggs) =>
        val df = compileP(quads, q, graph, dflt)
        if (aggs.isEmpty) df.select(keys.map(df(_)): _*).dropDuplicates()
        else {
          val aggCols = aggs.map(a => AggCompiler.compile(a, n => df(n)))
          if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(keys.map(df(_)): _*).agg(aggCols.head, aggCols.tail: _*)
        }
      case PSub(q) =>
        // the nested query evaluates like a top-level SELECT (group → having
        // → distinct/order → slice → projection) but keeps term structs so
        // the enclosing pattern joins on them
        var df = compileP(quads,
          if (q.aggregates.nonEmpty || q.groupKeys.nonEmpty)
            PGroup(q.pattern, q.groupKeys, q.aggregates)
          else q.pattern, graph, dflt)
        q.having.foreach(h => df = df.filter(ExprCompiler.toBool(h, ExprCompiler.resolve(df))))
        val projVars: Seq[String] =
          if (q.projection.nonEmpty) q.projection
          else df.columns.toSeq.filterNot(_.startsWith("__"))
        if (q.distinct) {
          df = df.select(projVars.map(df(_)): _*).dropDuplicates()
          if (q.orderBy.nonEmpty) df = df.orderBy(q.orderBy.flatMap(SparqlEngine.sortCols(df, _)): _*)
        } else {
          if (q.orderBy.nonEmpty) df = df.orderBy(q.orderBy.flatMap(SparqlEngine.sortCols(df, _)): _*)
          df = df.select(projVars.map(df(_)): _*)
        }
        q.offset.foreach(o => df = df.offset(o.toInt))
        q.limit.foreach(l => df = df.limit(l.toInt))
        df
    }

  /** Variables a pattern may bind to NULL (VALUES UNDEF, OPTIONAL right
    * side) — joins on these need unbound-compatible semantics. */
  def nullableVars(p: Pattern): Set[String] = p match {
    case PValues(vars, rows) =>
      vars.zipWithIndex.collect {
        case (v, i) if rows.exists(r => r(i).isEmpty) => v
      }.toSet
    case PLeftJoin(l, r, _) =>
      nullableVars(l) ++ (patternVars(r).toSet -- patternVars(l).toSet) ++ nullableVars(r)
    case PJoin(l, r) => nullableVars(l) ++ nullableVars(r)
    case PUnion(l, r) =>
      // vars missing on one side come back null-filled
      nullableVars(l) ++ nullableVars(r) ++
        (patternVars(l).toSet diff patternVars(r).toSet) ++
        (patternVars(r).toSet diff patternVars(l).toSet)
    case PFilter(_, q) => nullableVars(q)
    case PExtend(q, _, _) => nullableVars(q)
    case PGraph(_, q) => nullableVars(q)
    case PMinus(l, _) => nullableVars(l)
    case PGroup(_, _, _) => Set.empty
    case PSub(q) => nullableVars(q.pattern)
    case _ => Set.empty
  }

  /** Columns of a solution DataFrame that are variables (excludes __unit). */
  private def solutionVars(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(_.startsWith("__"))

  /** One triple-pattern scan over quads → solution DF of its variables.
    * With a pre-deduped default-graph table (`dflt`), default-graph scans
    * read it directly — distinct triples project to distinct binding rows
    * (constant positions are filtered to exact constants, so the free
    * positions inherit the table's set property), so no dedup shuffle. */
  private def scanTriple(quads: DataFrame, t: TriplePattern,
      graph: Option[TermPattern], dflt: Option[DataFrame]): DataFrame = {
    val deduped = graph.isEmpty && dflt.isDefined
    var df = if (deduped) dflt.get else quads
    // constant-position filters (these reach the parquet scan)
    t.s match {
      case TConst(c) => df = df.filter(col("subject") === c.value && col("subject_kind") === c.kind)
      case _ =>
    }
    t.p match {
      case TConst(c) => df = df.filter(col("predicate") === c.value)
      case _ =>
    }
    t.o match {
      case TConst(c) =>
        df = df.filter(col("obj_kind") === c.kind && col("obj_value") === c.value &&
          coalesce(col("obj_lang"), lit("")) === c.lang &&
          coalesce(col("obj_datatype"), lit("")) === c.datatype)
      case _ =>
    }
    graph match {
      case Some(TConst(c)) =>
        df = df.filter(col("graph_iri") === c.value)
        // materialized layout: the foldable bucket predicate constant-folds
        // and prunes partition directories before file listing
        if (df.columns.contains("graph_bucket"))
          df = df.filter(col("graph_bucket") === Materialize.bucketCol(lit(c.value)))
      case _ =>
    }
    // bind variables
    val sTerm = mkTerm(col("subject_kind"), col("subject"), lit(""), lit(""))
    val pTerm = mkTerm(lit(Kind.Iri), col("predicate"), lit(""), lit(""))
    val oTerm = mkTerm(col("obj_kind"), col("obj_value"), col("obj_lang"), col("obj_datatype"))
    val bindings = scala.collection.mutable.LinkedHashMap[String, Column]()
    def bind(tp: TermPattern, c: Column): Option[(String, Column)] = tp match {
      case TVar(n) =>
        if (bindings.contains(n)) Some(n -> c) // repeated var in one pattern
        else { bindings(n) = c; None }
      case _ => None
    }
    val extraEq = Seq(bind(t.s, sTerm), bind(t.p, pTerm), bind(t.o, oTerm)).flatten
    extraEq.foreach { case (n, c) => df = df.filter(bindings(n) === c) }
    graph.foreach {
      case TVar(g) if !bindings.contains(g) =>
        bindings(g) = mkTerm(lit(Kind.Iri), col("graph_iri"), lit(""), lit(""))
      case _ =>
    }
    val out = df.select(bindings.map { case (n, c) => c.as(n) }.toSeq: _*)
    // default-graph set semantics: dedup when not inside GRAPH (already a
    // set when scanning the materialized triples table)
    if (graph.isEmpty && !deduped) out.dropDuplicates() else out
  }

  /** Inner join of two solution DFs on their shared variables. A shared var
    * that may be unbound (VALUES UNDEF / OPTIONAL) joins with SPARQL
    * compatibility semantics: null is compatible with anything, and the
    * joined value is the bound one. */
  private def join(l0: DataFrame, r0: DataFrame,
      nullable: Set[String] = Set.empty): DataFrame = {
    // a pure __unit side is an existence constraint (0 or 1 rows): keep the
    // other side's rows iff the unit row exists; never drop var bindings
    def unitOnly(df: DataFrame) = solutionVars(df).isEmpty
    if (unitOnly(l0)) return existence(r0, l0)
    if (unitOnly(r0)) return existence(l0, r0)
    // residue __unit columns (constraint already applied to these rows)
    val l = if (l0.columns.contains("__unit")) l0.drop("__unit") else l0
    val r = if (r0.columns.contains("__unit")) r0.drop("__unit") else r0
    val lv = solutionVars(l)
    val rv = solutionVars(r)
    val shared = lv.intersect(rv)
    if (shared.isEmpty) l.crossJoin(r)
    else {
      val rr = shared.foldLeft(r)((d, v) => d.withColumnRenamed(v, s"__r_$v"))
      val nv = shared.filter(nullable.contains)
      if (nv.isEmpty) {
        val cond = shared.map(v => l(v) === rr(s"__r_$v")).reduce(_ && _)
        l.join(rr, cond, "inner").drop(shared.map(v => s"__r_$v"): _*)
      } else if (nv.size <= MaxCompatBranchVars) {
        compatJoin(l, rr, shared, nv)
      } else {
        // fallback: the OR condition is correct but non-equi (nested loop);
        // only reachable past MaxCompatBranchVars nullable shared vars
        val cond = shared.map { v =>
          if (nullable.contains(v))
            l(v) === rr(s"__r_$v") || l(v).isNull || rr(s"__r_$v").isNull
          else l(v) === rr(s"__r_$v")
        }.reduce(_ && _)
        var out = l.join(rr, cond, "inner")
        nv.foreach { v =>
          out = out.withColumn(v, coalesce(l(v), rr(s"__r_$v")))
        }
        out.drop(shared.map(v => s"__r_$v"): _*)
      }
    }
  }

  /** Past this many nullable shared vars the 3^k branch union is worse than
    * the nested-loop fallback (k>2 never occurs in the reference's tests). */
  val MaxCompatBranchVars = 2

  /** SPARQL compatibility join decomposed into a union of EQUI-join branches
    * so Catalyst can hash-partition every one (the single OR-of-null
    * conditions forces a nested-loop join, quadratic at scale). Each
    * nullable shared var contributes three disjoint cases — A: both bound
    * and equal (var joins as a key), B: left unbound, C: left bound / right
    * unbound — giving 3^k branches whose pre-filters make them disjoint. */
  private def compatJoin(l: DataFrame, rr: DataFrame, shared: Seq[String],
      nv: Seq[String]): DataFrame = {
    val bv = shared.filterNot(nv.contains)
    val rOnly = rr.columns.toSeq.filterNot(c => c.startsWith("__r_") || l.columns.contains(c))
    val cases = nv.foldLeft(Seq(Map.empty[String, Char]))((acc, v) =>
      acc.flatMap(m => Seq(m + (v -> 'A'), m + (v -> 'B'), m + (v -> 'C'))))
    val branches = cases.map { m =>
      var lf = l
      var rf = rr
      m.foreach { case (v, c) => c match {
        case 'A' => lf = lf.filter(lf(v).isNotNull); rf = rf.filter(rf(s"__r_$v").isNotNull)
        case 'B' => lf = lf.filter(lf(v).isNull)
        case 'C' => lf = lf.filter(lf(v).isNotNull); rf = rf.filter(rf(s"__r_$v").isNull)
      }}
      val keys = bv ++ m.collect { case (v, 'A') => v }
      val joined =
        if (keys.isEmpty) lf.crossJoin(rf) // an unbound side is a tiny filtered slice
        else lf.join(rf, keys.map(v => lf(v) === rf(s"__r_$v")).reduce(_ && _), "inner")
      // fixed output order so the union is positional-safe
      val outCols =
        l.columns.toSeq.map(c =>
          if (shared.contains(c)) coalesce(col(c), col(s"__r_$c")).as(c) else col(c)) ++
        rOnly.map(col)
      joined.select(outCols: _*)
    }
    branches.reduce(_ union _)
  }

  /** keep's rows survive iff the 0/1-row unit frame is non-empty. */
  private def existence(keep: DataFrame, unit: DataFrame): DataFrame =
    if (unit.columns.contains("__unit"))
      keep.crossJoin(unit.select(col("__unit")).limit(1)).drop("__unit")
    else keep

  /** OPTIONAL: left outer join; the filter expression (if any) is evaluated
    * in the scope of the join, referencing both sides. */
  private def leftJoin(l0: DataFrame, r0: DataFrame, expr: Option[Expr]): DataFrame = {
    val l = if (l0.columns.contains("__unit") && solutionVars(l0).nonEmpty)
      l0.drop("__unit") else l0
    val r = if (r0.columns.contains("__unit") && solutionVars(r0).nonEmpty)
      r0.drop("__unit") else r0
    val lv = solutionVars(l)
    val rv = solutionVars(r)
    val shared = lv.intersect(rv)
    val rr = shared.foldLeft(r)((d, v) => d.withColumnRenamed(v, s"__r_$v"))
    val resolve: String => Column = n =>
      if (shared.contains(n)) rr(s"__r_$n")
      else if (rv.contains(n)) rr(n)
      else l(n)
    val eqCond = shared.map(v => l(v) === rr(s"__r_$v"))
    val filterCond = expr.map(e => ExprCompiler.toBool(e, resolve))
    val cond = (eqCond ++ filterCond).reduceOption(_ && _).getOrElse(lit(true))
    l.join(rr, cond, "left_outer").drop(shared.map(v => s"__r_$v"): _*)
  }

  /** left-semi / left-anti join on shared vars (EXISTS / MINUS / NOT EXISTS). */
  private def semiJoin(l: DataFrame, r: DataFrame, anti: Boolean): DataFrame = {
    val shared = solutionVars(l).intersect(solutionVars(r))
    val joinType = if (anti) "left_anti" else "left_semi"
    if (shared.isEmpty) {
      // EXISTS with no shared vars: keep all or none depending on emptiness
      val nonEmpty = !r.isEmpty
      if (nonEmpty != anti) l else l.limit(0)
    } else {
      val rr = shared.foldLeft(r.select(shared.map(r(_)): _*))(
        (d, v) => d.withColumnRenamed(v, s"__r_$v"))
      val cond = shared.map(v => l(v) === rr(s"__r_$v")).reduce(_ && _)
      l.join(rr, cond, joinType)
    }
  }

  /** SPARQL UNION: align variable domains, null-fill, bag union. */
  private def union(l: DataFrame, r: DataFrame): DataFrame = {
    val lv = solutionVars(l)
    val rv = solutionVars(r)
    val all = (lv ++ rv).distinct
    def align(df: DataFrame, has: Seq[String]): DataFrame =
      df.select(all.map(v =>
        if (has.contains(v)) df(v).as(v) else lit(null).cast(termType).as(v)): _*)
    align(l, lv).union(align(r, rv))
  }
}
