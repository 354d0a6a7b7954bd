package graft.sparql

/** RDF term model + SPARQL algebra for the supported subset.
  *
  * Mirrors the term shapes the reference decodes from its quad snapshots
  * (`operations/src/metadata/handle.rs:4975-4998`: IRI / blank node / literal
  * with optional language tag or datatype) and the `GraphPattern` arms its
  * evaluator walks (`handle.rs:4840-4895`). Absent lang/datatype are encoded
  * as empty strings, never null, so Spark join/equality semantics stay exact.
  */
object Kind {
  val Iri = 0
  val BNode = 1
  val Literal = 2
}

final case class Term(kind: Int, value: String, lang: String, datatype: String) {
  def isLiteral: Boolean = kind == Kind.Literal
  def isIri: Boolean = kind == Kind.Iri
}

object Term {
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
  val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  val XsdDouble = "http://www.w3.org/2001/XMLSchema#double"
  val XsdBoolean = "http://www.w3.org/2001/XMLSchema#boolean"
  val XsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"

  def iri(v: String): Term = Term(Kind.Iri, v, "", "")
  def lit(v: String): Term = Term(Kind.Literal, v, "", "")
  def langLit(v: String, lang: String): Term = Term(Kind.Literal, v, lang, "")
  def typedLit(v: String, dt: String): Term = Term(Kind.Literal, v, "", dt)
  def int(v: Long): Term = typedLit(v.toString, XsdInteger)
  def bool(v: Boolean): Term = typedLit(v.toString, XsdBoolean)

  def isNumericDatatype(dt: String): Boolean =
    dt == XsdInteger || dt == XsdDecimal || dt == XsdDouble
}

/** A position in a triple pattern: variable or constant term. */
sealed trait TermPattern
final case class TVar(name: String) extends TermPattern
final case class TConst(term: Term) extends TermPattern

final case class TriplePattern(s: TermPattern, p: TermPattern, o: TermPattern) {
  def vars: Seq[String] =
    Seq(s, p, o).collect { case TVar(n) => n }
}

/** SPARQL expressions — the set enumerated at reference
  * `handle.rs:4898-4975` / `api.rs:2053-2091`, plus the builtin functions
  * the reference's tests exercise.
  */
sealed trait Expr
final case class EVar(name: String) extends Expr
final case class EConst(term: Term) extends Expr
final case class EOr(l: Expr, r: Expr) extends Expr
final case class EAnd(l: Expr, r: Expr) extends Expr
final case class ENot(e: Expr) extends Expr
final case class ECmp(op: String, l: Expr, r: Expr) extends Expr // = != < <= > >=
final case class EArith(op: String, l: Expr, r: Expr) extends Expr // + - * /
final case class ENeg(e: Expr) extends Expr
final case class EIn(e: Expr, list: Seq[Expr], negated: Boolean) extends Expr
final case class EIf(c: Expr, t: Expr, f: Expr) extends Expr
final case class ECoalesce(args: Seq[Expr]) extends Expr
final case class EBound(v: String) extends Expr
final case class EExists(p: Pattern, negated: Boolean) extends Expr
final case class EFunc(name: String, args: Seq[Expr]) extends Expr
final case class ESameTerm(l: Expr, r: Expr) extends Expr

/** Aggregate expression inside GROUP BY (SPARQL 1.1 set, reference
  * `api.rs:2042-2050`). */
final case class AggExpr(fn: String, arg: Option[Expr], distinct: Boolean,
                         separator: String, as: String)

/** Graph patterns — the arms at reference `handle.rs:4840-4895`. */
sealed trait Pattern
final case class BGP(triples: Seq[TriplePattern]) extends Pattern
final case class PFilter(expr: Expr, p: Pattern) extends Pattern
final case class PJoin(l: Pattern, r: Pattern) extends Pattern
final case class PLeftJoin(l: Pattern, r: Pattern, expr: Option[Expr]) extends Pattern
final case class PUnion(l: Pattern, r: Pattern) extends Pattern
final case class PMinus(l: Pattern, r: Pattern) extends Pattern
final case class PExtend(p: Pattern, v: String, expr: Expr) extends Pattern
final case class PGraph(g: TermPattern, p: Pattern) extends Pattern
final case class PValues(vars: Seq[String], rows: Seq[Seq[Option[Term]]]) extends Pattern
final case class PGroup(p: Pattern, keys: Seq[String], aggs: Seq[AggExpr]) extends Pattern

/** Property-path pattern (`GraphPattern::Path`, reference handle.rs:4893). */
final case class PPath(s: TermPattern, path: PathExpr, o: TermPattern) extends Pattern

/** Sub-SELECT (SPARQL 1.1 §12): the nested query evaluates independently and
  * its projected solutions join with the enclosing group. */
final case class PSub(q: SparqlQuery) extends Pattern

/** Property-path expressions: iri, ^p, p/q, p|q, !(…) and one quantifier
  * node, [[PRange]], for `p+`, `p*`, `p?`, `p{n}`, `p{n,}` and `p{n,m}`. */
sealed trait PathExpr
final case class PLink(iri: String) extends PathExpr

/** Negated property set `!(i1|…|^j1|…)` (SPARQL 1.1 §9.2): matches (s,o)
  * when some triple `s p o` has p outside `forward`, or some `o p s` has p
  * outside `inverse` — `!(F|^I) ≡ !(F) | ^(!(I))`. A side with no listed
  * members contributes no branch (e.g. `!(^:q)` is inverse-only). */
final case class PNps(forward: Seq[String], inverse: Seq[String]) extends PathExpr
final case class PInverse(p: PathExpr) extends PathExpr
final case class PSeq(l: PathExpr, r: PathExpr) extends PathExpr
final case class PAlt(l: PathExpr, r: PathExpr) extends PathExpr

/** Quantifier `p{min,max}` (0 <= min, and min <= max, max >= 1 when `max`
  * is set; None is unbounded): matches (s,o) when some walk of k `p`-hops
  * leads from s to o, for k in min..max. `p+` is `PRange(p, 1, None)`, `p*`
  * is `PRange(p, 0, None)` and `p?` is `PRange(p, 0, Some(1))`. The
  * zero-length match (min = 0) holds for a node in the node domain of `p`,
  * not for every term of the graph. */
final case class PRange(p: PathExpr, min: Int, max: Option[Int]) extends PathExpr

final case class OrderKey(expr: Expr, asc: Boolean)

/** A parsed query: SELECT or ASK (the only forms the reference accepts —
  * `handle.rs:4825-4831`). */
final case class SparqlQuery(
    form: String, // "select" | "ask"
    distinct: Boolean,
    projection: Seq[String], // empty = all in-scope vars
    pattern: Pattern,
    groupKeys: Seq[String],
    aggregates: Seq[AggExpr],
    orderBy: Seq[OrderKey],
    limit: Option[Long],
    offset: Option[Long],
    /** post-aggregation constraints; aggregate calls inside HAVING are
      * hoisted by the parser into [[aggregates]] under `__h<i>` aliases. */
    having: Seq[Expr] = Nil)
