package graft.sparql

import scala.collection.mutable.ArrayBuffer

/** Recursive-descent parser for the SPARQL subset the reference evaluates
  * (SELECT/ASK over BGP, FILTER, OPTIONAL, UNION, MINUS, GRAPH, VALUES, BIND,
  * GROUP BY + aggregates, ORDER BY, DISTINCT/REDUCED, LIMIT/OFFSET — the
  * `GraphPattern` arms at reference `handle.rs:4840-4895`).
  *
  * Query guards ported from `api.rs:1972-2006` + `handle.rs:4825-4831`:
  * 64 KiB text cap, only SELECT/ASK forms, SERVICE rejected anywhere,
  * LIMIT > 10_000 rejected.
  */
final class SparqlParseException(msg: String) extends RuntimeException(msg)

object SparqlParser {

  val MaxQueryBytes = 64 * 1024 // handle.rs:94
  val MaxLimit = 10000L // handle.rs:95

  /** Common prefixes injected by the reference (`handle.rs:98-103`). */
  val CommonPrefixes: Map[String, String] = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "schema" -> "http://schema.org/",
    "dcterms" -> "http://purl.org/dc/terms/",
    "foaf" -> "http://xmlns.com/foaf/0.1/")

  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  def parse(input: String): SparqlQuery = new SparqlParser(input).parseQuery()
}

private final class SparqlParser(input: String) {
  import SparqlParser._

  if (input.getBytes("UTF-8").length > SparqlParser.MaxQueryBytes)
    throw new SparqlParseException(s"query exceeds ${SparqlParser.MaxQueryBytes} bytes")

  // ----- tokenizer -----
  sealed trait Tok
  case class TIri(v: String) extends Tok
  case class TPName(prefix: String, local: String) extends Tok
  case class TVarTok(name: String) extends Tok
  case class TStr(v: String) extends Tok
  case class TLang(v: String) extends Tok
  case class TNum(v: String) extends Tok
  case class TWord(v: String) extends Tok // keywords & bare identifiers
  case class TPunct(v: String) extends Tok
  case object TEOF extends Tok

  private val toks: ArrayBuffer[Tok] = tokenize()
  private var pos = 0

  private def tokenize(): ArrayBuffer[Tok] = {
    val out = ArrayBuffer[Tok]()
    var i = 0
    val n = input.length
    def peekCh(k: Int): Char = if (i + k < n) input.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = input.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && input.charAt(i) != '\n') i += 1 }
      else if (c == '<') {
        // IRIREF if a '>' appears before any whitespace; else comparison op
        var j = i + 1
        var isIri = false
        var brk = false
        while (j < n && !brk) {
          val cj = input.charAt(j)
          if (cj == '>') { isIri = true; brk = true }
          else if (cj.isWhitespace || "<\"{}|^`()&!,;".indexOf(cj) >= 0) brk = true
          else j += 1
        }
        if (isIri) { out += TIri(input.substring(i + 1, j)); i = j + 1 }
        else if (peekCh(1) == '=') { out += TPunct("<="); i += 2 }
        else { out += TPunct("<"); i += 1 }
      } else if (c == '?' || c == '$') {
        var j = i + 1
        while (j < n && (input.charAt(j).isLetterOrDigit || input.charAt(j) == '_')) j += 1
        if (j == i + 1) { out += TPunct("?"); i += 1 } // path modifier p?
        else { out += TVarTok(input.substring(i + 1, j)); i = j }
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val cj = input.charAt(j)
          if (cj == '\\' && j + 1 < n) {
            input.charAt(j + 1) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case 'b' => sb += '\b'; case 'f' => sb += '\f'
              case o => sb += o
            }
            j += 2
          } else if (cj == quote) { closed = true; j += 1 }
          else { sb += cj; j += 1 }
        }
        if (!closed) throw new SparqlParseException("unterminated string")
        out += TStr(sb.toString); i = j
      } else if (c == '@') {
        var j = i + 1
        while (j < n && (input.charAt(j).isLetterOrDigit || input.charAt(j) == '-')) j += 1
        out += TLang(input.substring(i + 1, j)); i = j
      } else if (c.isDigit || (c == '.' && peekCh(1).isDigit)) {
        var j = i
        while (j < n && (input.charAt(j).isDigit || input.charAt(j) == '.' ||
          input.charAt(j) == 'e' || input.charAt(j) == 'E' ||
          ((input.charAt(j) == '+' || input.charAt(j) == '-') && j > i &&
            (input.charAt(j - 1) == 'e' || input.charAt(j - 1) == 'E')))) j += 1
        out += TNum(input.substring(i, j)); i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (input.charAt(j).isLetterOrDigit || input.charAt(j) == '_' ||
          input.charAt(j) == '-')) j += 1
        val word = input.substring(i, j)
        if (j < n && input.charAt(j) == ':') {
          // PNAME prefix:local
          var k = j + 1
          while (k < n && (input.charAt(k).isLetterOrDigit || "._-%".indexOf(input.charAt(k)) >= 0)) k += 1
          while (k > j + 1 && input.charAt(k - 1) == '.') k -= 1 // PN_LOCAL cannot end in '.'
          out += TPName(word, input.substring(j + 1, k)); i = k
        } else { out += TWord(word); i = j }
      } else if (c == ':') {
        // default-prefix PNAME
        var k = i + 1
        while (k < n && (input.charAt(k).isLetterOrDigit || "._-%".indexOf(input.charAt(k)) >= 0)) k += 1
        while (k > i + 1 && input.charAt(k - 1) == '.') k -= 1 // PN_LOCAL cannot end in '.'
        out += TPName("", input.substring(i + 1, k)); i = k
      } else {
        val two = if (i + 1 < n) input.substring(i, i + 2) else ""
        if (two == "&&" || two == "||" || two == "!=" || two == ">=" || two == "^^") {
          out += TPunct(two); i += 2
        } else {
          out += TPunct(c.toString); i += 1
        }
      }
    }
    out += TEOF
    out
  }

  private def cur: Tok = toks(pos)
  private def advance(): Tok = { val t = cur; pos += 1; t }
  private def isWord(w: String): Boolean = cur match {
    case TWord(v) => v.equalsIgnoreCase(w)
    case _ => false
  }
  private def eatWord(w: String): Boolean = if (isWord(w)) { pos += 1; true } else false
  private def expectWord(w: String): Unit =
    if (!eatWord(w)) throw new SparqlParseException(s"expected $w, got $cur")
  private def isPunct(p: String): Boolean = cur match {
    case TPunct(v) => v == p
    case _ => false
  }
  private def eatPunct(p: String): Boolean = if (isPunct(p)) { pos += 1; true } else false
  private def expectPunct(p: String): Unit =
    if (!eatPunct(p)) throw new SparqlParseException(s"expected '$p', got $cur")

  // ----- prefixes -----
  private var prefixes: Map[String, String] = CommonPrefixes

  private def expandPName(prefix: String, local: String): String =
    prefixes.get(prefix) match {
      case Some(base) => base + local
      case None => throw new SparqlParseException(s"unknown prefix '$prefix:'")
    }

  // ----- query -----
  def parseQuery(): SparqlQuery = {
    while (eatWord("PREFIX")) {
      val name = advance() match {
        case TPName(p, "") => p
        case TPName(p, l) => throw new SparqlParseException(s"bad prefix decl $p:$l")
        case t => throw new SparqlParseException(s"expected prefix name, got $t")
      }
      val iri = advance() match {
        case TIri(v) => v
        case t => throw new SparqlParseException(s"expected IRI, got $t")
      }
      prefixes += name -> iri
    }
    if (isWord("CONSTRUCT") || isWord("DESCRIBE"))
      throw new SparqlParseException("only SELECT and ASK query forms are supported") // handle.rs:4825-4831
    if (eatWord("ASK")) {
      eatWord("WHERE")
      val p = parseGroupGraphPattern()
      SparqlQuery("ask", distinct = false, Nil, p, Nil, Nil, Nil, None, None)
    } else {
      val q = parseSelect()
      cur match {
        case TEOF =>
        case t => throw new SparqlParseException(s"trailing token $t")
      }
      q
    }
  }

  /** SELECT clause through solution modifiers; shared by the top-level query
    * and sub-SELECTs (which stop at the enclosing '}'). */
  private def parseSelect(): SparqlQuery = {
    {
      expectWord("SELECT")
      val distinct = eatWord("DISTINCT") || { eatWord("REDUCED"); false }
      var projection = Vector[String]()
      var aggs = Vector[AggExpr]()
      var binds = Vector[(String, Expr)]()
      var star = false
      var done = false
      while (!done) {
        cur match {
          case TVarTok(v) => projection :+= v; pos += 1
          case TPunct("*") => star = true; pos += 1
          case TPunct("(") =>
            pos += 1
            parseAggOrNull() match {
              case agg if agg != null =>
                expectWord("AS")
                val v = advance() match {
                  case TVarTok(x) => x
                  case t => throw new SparqlParseException(s"expected var, got $t")
                }
                aggs :+= agg.copy(as = v); projection :+= v
              case _ =>
                val e = parseExpr()
                expectWord("AS")
                val v = advance() match {
                  case TVarTok(x) => x
                  case t => throw new SparqlParseException(s"expected var, got $t")
                }
                binds :+= (v -> e); projection :+= v
            }
            expectPunct(")")
          case _ => done = true
        }
      }
      eatWord("WHERE")
      var p = parseGroupGraphPattern()
      binds.foreach { case (v, e) => p = PExtend(p, v, e) }
      var groupKeys = Vector[String]()
      if (eatWord("GROUP")) {
        expectWord("BY")
        var more = true
        while (more) cur match {
          case TVarTok(v) => groupKeys :+= v; pos += 1
          case _ => more = false
        }
      }
      var having = Vector[Expr]()
      if (eatWord("HAVING")) {
        // aggregate calls inside HAVING are hoisted to __h<i> aliases in the
        // aggregation, so the constraint compiles to a plain post-agg filter
        val saved = havingAggs
        havingAggs = ArrayBuffer[AggExpr]()
        having :+= parseConstraint()
        while (isPunct("(")) having :+= parseConstraint()
        aggs ++= havingAggs
        havingAggs = saved
      }
      var order = Vector[OrderKey]()
      if (eatWord("ORDER")) {
        expectWord("BY")
        var more = true
        while (more) {
          if (eatWord("ASC")) { expectPunct("("); order :+= OrderKey(parseExpr(), asc = true); expectPunct(")") }
          else if (eatWord("DESC")) { expectPunct("("); order :+= OrderKey(parseExpr(), asc = false); expectPunct(")") }
          else cur match {
            case TVarTok(v) => order :+= OrderKey(EVar(v), asc = true); pos += 1
            case _ => more = false
          }
        }
      }
      var limit: Option[Long] = None
      var offset: Option[Long] = None
      var modMore = true
      while (modMore) {
        if (eatWord("LIMIT")) limit = Some(parseLong())
        else if (eatWord("OFFSET")) offset = Some(parseLong())
        else modMore = false
      }
      limit.foreach { l =>
        if (l > SparqlParser.MaxLimit)
          throw new SparqlParseException(s"LIMIT $l exceeds ${SparqlParser.MaxLimit}") // api.rs LIMIT guard
      }
      SparqlQuery("select", distinct, if (star) Nil else projection, p,
        groupKeys, aggs, order, limit, offset, having)
    }
  }

  /** Non-null while parsing a HAVING constraint: collects hoisted aggregates. */
  private var havingAggs: ArrayBuffer[AggExpr] = null

  private def parseLong(): Long = advance() match {
    case TNum(v) => v.toLong
    case t => throw new SparqlParseException(s"expected number, got $t")
  }

  /** Returns null when the '(' content is not an aggregate call. */
  private def parseAggOrNull(): AggExpr = cur match {
    case TWord(w) if Set("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")
        .contains(w.toUpperCase) =>
      val fn = w.toUpperCase
      pos += 1
      expectPunct("(")
      val distinct = eatWord("DISTINCT")
      val arg: Option[Expr] =
        if (isPunct("*")) { pos += 1; None } else Some(parseExpr())
      var sep = " "
      if (eatPunct(";")) {
        expectWord("SEPARATOR")
        expectPunct("=")
        sep = advance() match {
          case TStr(s) => s
          case t => throw new SparqlParseException(s"expected separator string, got $t")
        }
      }
      expectPunct(")")
      AggExpr(fn, arg, distinct, sep, "")
    case _ => null
  }

  // ----- group graph pattern -----
  private def parseGroupGraphPattern(): Pattern = {
    expectPunct("{")
    // SPARQL 1.1 §12: GroupGraphPattern ::= '{' (SubSelect | GroupGraphPatternSub) '}'
    if (isWord("SELECT")) {
      val q = parseSelect()
      expectPunct("}")
      return PSub(q)
    }
    var current: Pattern = BGP(Nil)
    var filters = Vector[Expr]()
    def joinWith(p: Pattern): Unit = current match {
      case BGP(Nil) => current = p
      case _ => current = PJoin(current, p)
    }
    while (!isPunct("}")) {
      if (isWord("SERVICE"))
        throw new SparqlParseException("SERVICE is not allowed") // api.rs:1998-2091
      else if (eatWord("OPTIONAL")) {
        val inner = parseGroupGraphPattern()
        inner match {
          case PFilter(e, p) => current = PLeftJoin(current, p, Some(e))
          case p => current = PLeftJoin(current, p, None)
        }
      } else if (eatWord("MINUS")) {
        current = PMinus(current, parseGroupGraphPattern())
      } else if (eatWord("FILTER")) {
        filters :+= parseConstraint()
      } else if (eatWord("BIND")) {
        expectPunct("(")
        val e = parseExpr()
        expectWord("AS")
        val v = advance() match {
          case TVarTok(x) => x
          case t => throw new SparqlParseException(s"expected var, got $t")
        }
        expectPunct(")")
        current = PExtend(current, v, e)
      } else if (eatWord("VALUES")) {
        joinWith(parseValues())
      } else if (eatWord("GRAPH")) {
        val g: TermPattern = advance() match {
          case TVarTok(v) => TVar(v)
          case TIri(v) => TConst(Term.iri(v))
          case TPName(p, l) => TConst(Term.iri(expandPName(p, l)))
          case t => throw new SparqlParseException(s"expected graph name, got $t")
        }
        joinWith(PGraph(g, parseGroupGraphPattern()))
      } else if (isPunct("{")) {
        var sub = parseGroupGraphPattern()
        while (eatWord("UNION")) sub = PUnion(sub, parseGroupGraphPattern())
        joinWith(sub)
      } else {
        // triples block (plain triples + property-path patterns)
        val (triples, paths) = parseTriplesBlock()
        if (triples.nonEmpty) joinWith(BGP(triples))
        paths.foreach(joinWith)
      }
      eatPunct(".")
    }
    expectPunct("}")
    filters.foldLeft(current)((p, f) => PFilter(f, p))
  }

  private def parseConstraint(): Expr = {
    // FILTER takes either a bracketted expression or a builtin call
    if (isPunct("(")) { pos += 1; val e = parseExpr(); expectPunct(")"); e }
    else parseUnary()
  }

  private def parseValues(): Pattern = {
    // VALUES ?v { t1 t2 } | VALUES (?a ?b) { (t1 t2) (t3 t4) }
    cur match {
      case TVarTok(v) =>
        pos += 1
        expectPunct("{")
        var rows = Vector[Seq[Option[Term]]]()
        while (!isPunct("}")) rows :+= Seq(parseValuesTerm())
        expectPunct("}")
        PValues(Seq(v), rows)
      case TPunct("(") =>
        pos += 1
        var vars = Vector[String]()
        while (!isPunct(")")) advance() match {
          case TVarTok(v) => vars :+= v
          case t => throw new SparqlParseException(s"expected var in VALUES, got $t")
        }
        expectPunct(")")
        expectPunct("{")
        var rows = Vector[Seq[Option[Term]]]()
        while (!isPunct("}")) {
          expectPunct("(")
          var row = Vector[Option[Term]]()
          while (!isPunct(")")) row :+= parseValuesTerm()
          expectPunct(")")
          if (row.size != vars.size)
            throw new SparqlParseException("VALUES row arity mismatch")
          rows :+= row
        }
        expectPunct("}")
        PValues(vars, rows)
      case t => throw new SparqlParseException(s"bad VALUES, got $t")
    }
  }

  private def parseValuesTerm(): Option[Term] =
    if (eatWord("UNDEF")) None else Some(parseTermConst())

  private def parseTermConst(): Term = advance() match {
    case TIri(v) => Term.iri(v)
    case TPName(p, l) => Term.iri(expandPName(p, l))
    case TStr(v) =>
      cur match {
        case TLang(lang) => pos += 1; Term.langLit(v, lang)
        case TPunct("^^") =>
          pos += 1
          advance() match {
            case TIri(dt) => Term.typedLit(v, dt)
            case TPName(p, l) => Term.typedLit(v, expandPName(p, l))
            case t => throw new SparqlParseException(s"expected datatype, got $t")
          }
        case _ => Term.lit(v)
      }
    case TNum(v) =>
      val dt = if (v.contains('.') || v.toLowerCase.contains('e')) Term.XsdDecimal else Term.XsdInteger
      Term.typedLit(v, dt)
    case TWord(w) if w.equalsIgnoreCase("true") || w.equalsIgnoreCase("false") =>
      Term.bool(w.toLowerCase.toBoolean)
    case t => throw new SparqlParseException(s"expected RDF term, got $t")
  }

  private def parseTermPattern(): TermPattern = cur match {
    case TVarTok(v) => pos += 1; TVar(v)
    case _ => TConst(parseTermConst())
  }

  /** Property-path grammar:
    * Path := Seq ('|' Seq)* ; Seq := Elt ('/' Elt)* ;
    * Elt := Primary ('+'|'*'|'?'|'{n}'|'{n,}'|'{n,m}')? ;
    * Primary := 'a' | iri | '^'Primary | '!'NPS | '('Path')'. */
  private def parsePath(): PathExpr = {
    var p = parsePathSeq()
    while (eatPunct("|")) p = PAlt(p, parsePathSeq())
    p
  }

  private def parsePathSeq(): PathExpr = {
    var p = parsePathElt()
    while (eatPunct("/")) p = PSeq(p, parsePathElt())
    p
  }

  private def parsePathElt(): PathExpr = {
    val prim = parsePathPrimary()
    if (eatPunct("+")) PRange(prim, 1, None)
    else if (eatPunct("*")) PRange(prim, 0, None)
    else if (eatPunct("?")) PRange(prim, 0, Some(1))
    else if (eatPunct("{")) parsePathRange(prim)
    else prim
  }

  /** `p{n}` / `p{n,}` / `p{n,m}`: one [[PRange]] node, which the path
    * compiler evaluates as a level search; `{n,}` has no upper bound, so
    * `{0,}` is the same node as `p*`. */
  private def parsePathRange(p: PathExpr): PathExpr = {
    def nat(): Int = advance() match {
      case TNum(v) if v.forall(_.isDigit) => v.toInt
      case t => throw new SparqlParseException(s"expected integer in path quantifier, got $t")
    }
    val min = nat()
    val max: Option[Int] =
      if (eatPunct(",")) { if (isPunct("}")) None else Some(nat()) } else Some(min)
    expectPunct("}")
    if (max.exists(_ < min) || max.contains(0))
      throw new SparqlParseException(s"invalid path quantifier {$min,${max.getOrElse("")}}")
    PRange(p, min, max)
  }

  private def parsePathPrimary(): PathExpr = {
    if (eatPunct("^")) PInverse(parsePathPrimary())
    else if (eatPunct("!")) parseNps()
    else if (isPunct("(")) { pos += 1; val p = parsePath(); expectPunct(")"); p }
    else if (isWord("a")) { pos += 1; PLink(RdfType) }
    else advance() match {
      case TIri(v) => PLink(v)
      case TPName(p, l) => PLink(expandPName(p, l))
      case t => throw new SparqlParseException(s"expected path element, got $t")
    }
  }

  /** `!iri` or `!(i1 | ^i2 | …)` → negated property set (SPARQL 1.1 §9.2). */
  private def parseNps(): PathExpr = {
    val fwd = ArrayBuffer[String]()
    val inv = ArrayBuffer[String]()
    def member(): Unit = {
      val inverse = eatPunct("^")
      val iri =
        if (isWord("a")) { pos += 1; RdfType }
        else advance() match {
          case TIri(v) => v
          case TPName(p, l) => expandPName(p, l)
          case t => throw new SparqlParseException(s"expected IRI in negated property set, got $t")
        }
      if (inverse) inv += iri else fwd += iri
    }
    if (eatPunct("(")) {
      member()
      while (eatPunct("|")) member()
      expectPunct(")")
    } else member()
    PNps(fwd.toSeq, inv.toSeq)
  }

  private def parseTriplesBlock(): (Seq[TriplePattern], Seq[PPath]) = {
    val out = ArrayBuffer[TriplePattern]()
    val paths = ArrayBuffer[PPath]()
    var more = true
    while (more) {
      val s = parseTermPattern()
      var predMore = true
      while (predMore) {
        val p: Either[TermPattern, PathExpr] = cur match {
          case TVarTok(v) => pos += 1; Left(TVar(v))
          case _ =>
            parsePath() match {
              case PLink(iri) => Left(TConst(Term.iri(iri)))
              case path => Right(path)
            }
        }
        var objMore = true
        while (objMore) {
          val o = parseTermPattern()
          p match {
            case Left(tp) => out += TriplePattern(s, tp, o)
            case Right(path) => paths += PPath(s, path, o)
          }
          objMore = eatPunct(",")
        }
        predMore = eatPunct(";") && !isPunct(".") && !isPunct("}") &&
          (cur match { case TVarTok(_) | TIri(_) | TPName(_, _) | TWord(_) => true; case _ => false })
      }
      // another subject only if '.' consumed and next token starts a term
      more = false
      if (isPunct(".")) {
        val save = pos
        pos += 1
        cur match {
          case TVarTok(_) | TIri(_) | TPName(_, _) | TStr(_) | TNum(_) => more = true
          case _ => pos = save; more = false
        }
      }
    }
    (out.toSeq, paths.toSeq)
  }

  // ----- expressions -----
  private def parseExpr(): Expr = parseOr()

  private def parseOr(): Expr = {
    var e = parseAnd()
    while (eatPunct("||")) e = EOr(e, parseAnd())
    e
  }

  private def parseAnd(): Expr = {
    var e = parseRelational()
    while (eatPunct("&&")) e = EAnd(e, parseRelational())
    e
  }

  private def parseRelational(): Expr = {
    val l = parseAdditive()
    cur match {
      case TPunct(op @ ("=" | "!=" | "<" | "<=" | ">" | ">=")) =>
        pos += 1
        ECmp(op, l, parseAdditive())
      case TWord(w) if w.equalsIgnoreCase("IN") =>
        pos += 1
        EIn(l, parseExprList(), negated = false)
      case TWord(w) if w.equalsIgnoreCase("NOT") =>
        pos += 1
        expectWord("IN")
        EIn(l, parseExprList(), negated = true)
      case _ => l
    }
  }

  private def parseExprList(): Seq[Expr] = {
    expectPunct("(")
    val out = ArrayBuffer[Expr]()
    if (!isPunct(")")) {
      out += parseExpr()
      while (eatPunct(",")) out += parseExpr()
    }
    expectPunct(")")
    out.toSeq
  }

  private def parseAdditive(): Expr = {
    var e = parseMultiplicative()
    var more = true
    while (more) {
      if (eatPunct("+")) e = EArith("+", e, parseMultiplicative())
      else if (eatPunct("-")) e = EArith("-", e, parseMultiplicative())
      else more = false
    }
    e
  }

  private def parseMultiplicative(): Expr = {
    var e = parseUnary()
    var more = true
    while (more) {
      if (eatPunct("*")) e = EArith("*", e, parseUnary())
      else if (eatPunct("/")) e = EArith("/", e, parseUnary())
      else more = false
    }
    e
  }

  private def parseUnary(): Expr = {
    if (eatPunct("!")) ENot(parseUnary())
    else if (eatPunct("-")) ENeg(parseUnary())
    else if (eatPunct("+")) parseUnary()
    else parsePrimary()
  }

  private def parsePrimary(): Expr = {
    if (isPunct("(")) { pos += 1; val e = parseExpr(); expectPunct(")"); e }
    else cur match {
      case TVarTok(v) => pos += 1; EVar(v)
      case TWord(w) if w.equalsIgnoreCase("EXISTS") =>
        pos += 1
        EExists(parseGroupGraphPattern(), negated = false)
      case TWord(w) if w.equalsIgnoreCase("NOT") =>
        pos += 1
        expectWord("EXISTS")
        EExists(parseGroupGraphPattern(), negated = true)
      case TWord(w) if w.equalsIgnoreCase("BOUND") =>
        pos += 1
        expectPunct("(")
        val v = advance() match {
          case TVarTok(x) => x
          case t => throw new SparqlParseException(s"BOUND expects a var, got $t")
        }
        expectPunct(")")
        EBound(v)
      case TWord(w) if w.equalsIgnoreCase("IF") =>
        pos += 1
        val args = parseExprList()
        if (args.size != 3) throw new SparqlParseException("IF takes 3 args")
        EIf(args(0), args(1), args(2))
      case TWord(w) if w.equalsIgnoreCase("COALESCE") =>
        pos += 1
        ECoalesce(parseExprList())
      case TWord(w) if w.equalsIgnoreCase("SAMETERM") =>
        pos += 1
        val args = parseExprList()
        if (args.size != 2) throw new SparqlParseException("SAMETERM takes 2 args")
        ESameTerm(args(0), args(1))
      case TWord(w) if w.equalsIgnoreCase("true") => pos += 1; EConst(Term.bool(true))
      case TWord(w) if w.equalsIgnoreCase("false") => pos += 1; EConst(Term.bool(false))
      case TWord(w) if havingAggs != null &&
          Set("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")
            .contains(w.toUpperCase) =>
        val agg = parseAggOrNull()
        val v = s"__h${havingAggs.size}"
        havingAggs += agg.copy(as = v)
        EVar(v)
      case TWord(w) if isFunctionName(w) =>
        pos += 1
        EFunc(w.toUpperCase, parseExprList())
      case TIri(_) | TPName(_, _) | TStr(_) | TNum(_) =>
        EConst(parseTermConst())
      case t => throw new SparqlParseException(s"unexpected token in expression: $t")
    }
  }

  private def isFunctionName(w: String): Boolean = Set(
    "STR", "LANG", "DATATYPE", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS",
    "STRLEN", "UCASE", "LCASE", "CONCAT", "ABS", "CEIL", "FLOOR", "ROUND",
    "ISIRI", "ISURI", "ISLITERAL", "ISBLANK", "ISNUMERIC", "LANGMATCHES",
    "SUBSTR", "REPLACE", "STRBEFORE", "STRAFTER", "ENCODE_FOR_URI",
    "MD5", "SHA1", "SHA256", "SHA384", "SHA512", "TZ",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
    "IRI", "URI", "STRLANG", "STRDT",
    "NOW", "UUID", "STRUUID", "RAND", "BNODE").contains(w.toUpperCase)
}
