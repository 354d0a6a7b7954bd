package graft.sparql

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class SparqlEngineSpec extends SparkSpec {
  import spark.implicits._

  /** tiny in-memory quad fixture: 2 graphs, typed entities, one shared
    * person subject (as in the reference's canonical test shape). */
  private lazy val quads: DataFrame = Seq(
    // g1: a Dataset with name+size
    ("g1", "d1", 0, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", 0, "http://schema.org/Dataset", "", ""),
    ("g1", "d1", 0, "http://schema.org/name", 2, "alpha", "", ""),
    ("g1", "d1", 0, "http://schema.org/contentSize", 2, "400", "", Term.XsdInteger),
    ("g1", "d1", 0, "http://schema.org/author", 0, "p1", "", ""),
    ("g1", "p1", 0, "http://schema.org/name", 2, "ada", "", ""),
    // g2: a File with small size, same person p1 (duplicate name triple)
    ("g2", "d2", 0, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", 0, "http://schema.org/File", "", ""),
    ("g2", "d2", 0, "http://schema.org/name", 2, "beta", "", ""),
    ("g2", "d2", 0, "http://schema.org/contentSize", 2, "100", "", Term.XsdInteger),
    ("g2", "d2", 0, "http://schema.org/author", 0, "p1", "", ""),
    ("g2", "p1", 0, "http://schema.org/name", 2, "ada", "", "")
  ).toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
    "obj_value", "obj_lang", "obj_datatype")

  private def sel(q: String): Seq[Seq[Any]] =
    SparqlEngine.select(quads, q).collect().toSeq.map(_.toSeq)

  test("BGP join + projection") {
    assert(sel("SELECT ?s ?n WHERE { ?s a schema:Dataset . ?s schema:name ?n }") ==
      Seq(Seq("d1", "alpha")))
  }

  test("default-graph set semantics dedup duplicated triples") {
    assert(sel("SELECT ?p ?n WHERE { ?p schema:name ?n . ?d schema:author ?p }")
      .toSet == Set(Seq("p1", "ada")))
  }

  test("OPTIONAL filter evaluates in join scope (row kept with unbound)") {
    val rows = sel(
      """SELECT ?s ?size WHERE { ?s schema:name ?n .
        |OPTIONAL { ?s schema:contentSize ?size . FILTER(?size > 300) } } ORDER BY ?s""".stripMargin)
    assert(rows == Seq(Seq("d1", "400"), Seq("d2", null), Seq("p1", null)))
  }

  test("MINUS removes compatible, keeps disjoint-domain") {
    assert(sel("SELECT ?s WHERE { ?s schema:name ?n . MINUS { ?s a schema:File } } ORDER BY ?s")
      == Seq(Seq("d1"), Seq("p1")))
    // disjoint domains: MINUS removes nothing
    assert(sel("SELECT ?s WHERE { ?s a schema:Dataset . MINUS { ?x schema:name ?y } }")
      == Seq(Seq("d1")))
  }

  test("UNION null-fills disjoint vars; FILTER EXISTS / NOT EXISTS") {
    val u = sel("SELECT ?a ?b WHERE { { ?a a schema:Dataset } UNION { ?b a schema:File } } ORDER BY ?a")
    assert(u.toSet == Set(Seq("d1", null), Seq(null, "d2")))
    assert(sel("SELECT ?s WHERE { ?s schema:name ?n . FILTER EXISTS { ?s a schema:Dataset } }")
      == Seq(Seq("d1")))
    assert(sel("SELECT ?s WHERE { ?s a schema:File . FILTER NOT EXISTS { ?s schema:contentSize ?c } }")
      .isEmpty)
  }

  test("GROUP BY aggregates, GROUP_CONCAT deterministic") {
    val rows = sel(
      """SELECT ?p (COUNT(*) AS ?n) (GROUP_CONCAT(?name ; SEPARATOR=",") AS ?names)
        |WHERE { ?d schema:author ?p . ?d schema:name ?name } GROUP BY ?p""".stripMargin)
    assert(rows == Seq(Seq("p1", 2L, "alpha,beta")))
  }

  test("GRAPH pattern binds/filters the graph; no dedup inside GRAPH") {
    assert(sel("SELECT ?g WHERE { GRAPH ?g { ?p schema:name \"ada\" } } ORDER BY ?g")
      == Seq(Seq("g1"), Seq("g2")))
    assert(sel("SELECT ?n WHERE { GRAPH <g2> { ?s schema:name ?n } } ORDER BY ?n")
      == Seq(Seq("ada"), Seq("beta")))
  }

  test("VALUES restricts; BIND computes; ORDER/LIMIT slice") {
    assert(sel(
      """SELECT ?s ?twice WHERE { ?s schema:contentSize ?size .
        |VALUES ?s { <d1> <d2> } BIND(?size * 2 AS ?twice) } ORDER BY DESC(?size * 1) LIMIT 1""".stripMargin)
      == Seq(Seq("d1", 800.0)))
  }

  test("ASK true/false") {
    def ask(q: String): Boolean =
      SparqlEngine.ask(quads, q).collect()(0).getBoolean(0)
    assert(ask("ASK { ?s a schema:Dataset }"))
    assert(!ask("ASK { ?s a schema:DataCatalog }"))
  }

  test("guards: SERVICE, CONSTRUCT, oversized LIMIT, 64KiB rejected") {
    def bad(q: String): Boolean =
      try { SparqlParser.parse(q); false } catch { case _: SparqlParseException => true }
    assert(bad("SELECT ?s WHERE { SERVICE <http://x> { ?s ?p ?o } }"))
    assert(bad("CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }"))
    assert(bad("SELECT ?s WHERE { ?s ?p ?o } LIMIT 20000"))
    assert(bad("SELECT ?s WHERE { ?s schema:name \"" + ("x" * 70000) + "\" }"))
  }

  private lazy val ringQuads = (0 until 5).flatMap { i =>
    Seq(
      ("g", s"n$i", 0, "http://schema.org/knows", 0, s"n${(i + 1) % 5}", "", ""),
      ("g", s"n$i", 0, "http://schema.org/name", 2, s"node $i", "", ""))
  }.toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
    "obj_value", "obj_lang", "obj_datatype")

  private def selRing(q: String): Seq[Seq[Any]] =
    SparqlEngine.select(ringQuads, q).collect().toSeq.map(_.toSeq)

  test("property paths: +, *, ?, sequence, alternation, inverse") {
    // transitive closure over a 5-ring reaches every node
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows+ ?x } ORDER BY ?x")
      == (0 until 5).map(i => Seq(s"n$i")))
    // zero-or-more includes the start node even without the cycle edge count
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows* ?x } ORDER BY ?x")
      == (0 until 5).map(i => Seq(s"n$i")))
    // zero-or-one: self + direct neighbor
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows? ?x } ORDER BY ?x")
      == Seq(Seq("n0"), Seq("n1")))
    // sequence: two hops
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows/schema:knows ?x }")
      == Seq(Seq("n2")))
    // alternation + inverse around n2: predecessor n1 and successor n3
    assert(selRing("SELECT ?x WHERE { ?x schema:knows|^schema:knows <n2> } ORDER BY ?x")
      == Seq(Seq("n1"), Seq("n3")))
    // path endpoint bound both sides: acts as an existence filter
    assert(selRing("SELECT ?n WHERE { <n0> schema:knows+ <n3> . <n0> schema:name ?n }")
      == Seq(Seq("node 0")))
  }

  test("string builtins: STRBEFORE/STRAFTER empty-needle cases, ENCODE_FOR_URI, hashes") {
    val r = sel(
      """SELECT ?b ?a ?e ?m WHERE { ?s a schema:Dataset . ?s schema:name ?n .
        |BIND(STRBEFORE(?n, "ph") AS ?b) BIND(STRAFTER(?n, "ph") AS ?a)
        |BIND(ENCODE_FOR_URI("a b~c*") AS ?e) BIND(MD5("abc") AS ?m) }""".stripMargin)
    assert(r == Seq(Seq("al", "a", "a%20b~c%2A", "900150983cd24fb0d6963f7d28e17f72")))
    // empty needle: STRBEFORE -> "", STRAFTER -> the whole string
    assert(sel("""SELECT ?x ?y WHERE { ?s a schema:File .
        |BIND(STRBEFORE("abc", "") AS ?x) BIND(STRAFTER("abc", "") AS ?y) }""".stripMargin)
      == Seq(Seq("", "abc")))
    // no match: both return ""
    assert(sel("""SELECT ?x ?y WHERE { ?s a schema:File .
        |BIND(STRBEFORE("abc", "zz") AS ?x) BIND(STRAFTER("abc", "zz") AS ?y) }""".stripMargin)
      == Seq(Seq("", "")))
  }

  test("dateTime accessors and TZ over lexical forms") {
    val r = sel(
      """SELECT ?y ?mo ?d ?h ?tz ?notz WHERE { ?s a schema:Dataset .
        |BIND(YEAR("2024-03-05T10:30:45Z") AS ?y)
        |BIND(MONTH("2024-03-05T10:30:45Z") AS ?mo)
        |BIND(DAY("2024-03-05T10:30:45Z") AS ?d)
        |BIND(HOURS("2024-03-05T10:30:45Z") AS ?h)
        |BIND(TZ("2024-03-05T10:30:45+05:00") AS ?tz)
        |BIND(TZ("2024-03-05T10:30:45") AS ?notz) }""".stripMargin)
    assert(r == Seq(Seq(2024.0, 3.0, 5.0, 10.0, "+05:00", "")))
  }

  test("term constructors: IRI, STRLANG, STRDT bind full terms") {
    // IRI(CONCAT(...)) joins back to a real subject
    assert(sel(
      """SELECT ?n WHERE { ?s a schema:Dataset . BIND(IRI(CONCAT("p", "1")) AS ?p) .
        |?p schema:name ?n }""".stripMargin)
      == Seq(Seq("ada")))
    // STRLANG carries the language tag into LANG(); STRDT the datatype
    assert(sel(
      """SELECT ?l ?dt WHERE { ?s a schema:Dataset .
        |BIND(STRLANG("chat", "fr") AS ?fr) BIND(LANG(?fr) AS ?l)
        |BIND(STRDT("42", xsd:integer) AS ?i) BIND(DATATYPE(?i) AS ?dt) }""".stripMargin)
      == Seq(Seq("fr", "http://www.w3.org/2001/XMLSchema#integer")))
  }

  test("property paths under GRAPH ?var: per-graph evaluation, no cross-graph leaks") {
    // sequence path binds the graph variable alongside the endpoints
    assert(sel(
      """SELECT ?g ?n WHERE { GRAPH ?g { ?d schema:author/schema:name ?n } }
        |ORDER BY ?g""".stripMargin)
      == Seq(Seq("g1", "ada"), Seq("g2", "ada")))
    // constant endpoint restricts to the graphs containing it
    assert(sel("SELECT ?g WHERE { GRAPH ?g { <d1> schema:author ?p } }")
      == Seq(Seq("g1")))
    // closures stay inside their graph: g1 chains n0->n1->n2, g2 only n0->n2
    val twoGraphs = Seq(
      ("g1", "n0", 0, "http://schema.org/knows", 0, "n1", "", ""),
      ("g1", "n1", 0, "http://schema.org/knows", 0, "n2", "", ""),
      ("g2", "n0", 0, "http://schema.org/knows", 0, "n2", "", ""))
      .toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
        "obj_value", "obj_lang", "obj_datatype")
    val rows = SparqlEngine.select(twoGraphs,
      "SELECT ?g ?x WHERE { GRAPH ?g { <n0> schema:knows+ ?x } } ORDER BY ?g ?x")
      .collect().toSeq.map(_.toSeq)
    assert(rows == Seq(Seq("g1", "n1"), Seq("g1", "n2"), Seq("g2", "n2")))
    // reusing the graph var as an endpoint is a clear error, not silence
    intercept[SparqlParseException] {
      SparqlEngine.select(twoGraphs,
        "SELECT ?g WHERE { GRAPH ?g { ?g schema:knows+ ?x } }").collect()
    }
  }

  test("negated property sets: forward, inverse-only, mixed (SPARQL 1.1 §9.2)") {
    // d1's non-excluded edges: author IRI + contentSize literal
    // (IRIs order before literals in the engine's term ordering)
    assert(sel("SELECT ?o WHERE { <d1> !(schema:name|a) ?o } ORDER BY ?o")
      == Seq(Seq("p1"), Seq("400")))
    // inverse-only: !(^schema:name) from p1 follows any inbound edge except name
    assert(sel("SELECT ?x WHERE { <p1> !(^schema:name) ?x } ORDER BY ?x")
      == Seq(Seq("d1"), Seq("d2")))
    // mixed: forward side dead (p1 only has name), inverse side excludes rdf:type
    assert(sel("SELECT ?x WHERE { <p1> !(schema:name|^a) ?x } ORDER BY ?x")
      == Seq(Seq("d1"), Seq("d2")))
    // NPS under a closure: !(schema:name)+ walks the ring like knows+
    assert(selRing("SELECT ?x WHERE { <n0> !(schema:name)+ ?x } ORDER BY ?x")
      == (0 until 5).map(i => Seq(s"n$i")))
  }

  test("path quantifiers {n}, {n,m}, {n,}, {0,m} over the 5-ring") {
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows{2} ?x }") == Seq(Seq("n2")))
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows{2,3} ?x } ORDER BY ?x")
      == Seq(Seq("n2"), Seq("n3")))
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows{0,2} ?x } ORDER BY ?x")
      == Seq(Seq("n0"), Seq("n1"), Seq("n2")))
    // unbounded tail wraps the whole ring
    assert(selRing("SELECT ?x WHERE { <n0> schema:knows{3,} ?x } ORDER BY ?x")
      == (0 until 5).map(i => Seq(s"n$i")))
    // var-to-const direction reverses the quantified path
    assert(selRing("SELECT ?x WHERE { ?x schema:knows{2,3} <n0> } ORDER BY ?x")
      == Seq(Seq("n2"), Seq("n3")))
    intercept[SparqlParseException] { selRing("SELECT ?x WHERE { <n0> schema:knows{3,2} ?x }") }
  }

  private val knowsPlus = PRange(PLink("http://schema.org/knows"), 1, None)

  /** `knows+` over the 5-ring with the driver search and with the
    * distributed loop forced (`localMaxEdges = 0`). */
  private def ringPlus(s: TermPattern, o: TermPattern): Seq[Set[Seq[String]]] =
    Seq(PathCompiler.LocalClosureMaxEdges, 0L).map { localMax =>
      val rows = PathCompiler.compile(ringQuads, s, knowsPlus, o, None, None, localMax)
        .collect().map(_.toSeq.map { case t: org.apache.spark.sql.Row => t.getAs[String]("value") })
        .toSet
      graft.Caches.release()
      rows
    }

  test("p+ var-var: the driver search and the distributed loop agree") {
    val Seq(viaDriver, viaLoop) = ringPlus(TVar("s"), TVar("o"))
    assert(viaDriver == viaLoop && viaDriver.size == 25) // 5-ring: all pairs
  }

  test("seeded p+ (driver and distributed) equals the var-var rows filtered to the seed") {
    val expected = ringPlus(TVar("s"), TVar("o")).head.collect { case Seq("n0", o) => Seq(o) }
    val Seq(viaDriver, viaLoop) = ringPlus(TConst(Term.iri("n0")), TVar("x"))
    assert(viaDriver == expected && viaLoop == expected && expected.size == 5)
  }

  test("review regressions: trailing dot, OPTIONAL-first join, unit existence") {
    // PN_LOCAL must not swallow the triple terminator
    assert(sel("SELECT ?s ?n WHERE { ?s a schema:Dataset. ?s schema:name ?n }") ==
      Seq(Seq("d1", "alpha")))
    // OPTIONAL-first group: bindings survive the following join. Note the
    // standard SPARQL gotcha applies: Join(LeftJoin({}, A), t) keeps only
    // t-solutions compatible with A — p1 (no contentSize) drops out.
    val rows = sel(
      """SELECT ?s ?size ?n WHERE {
        |  OPTIONAL { ?s schema:contentSize ?size }
        |  ?s schema:name ?n
        |} ORDER BY ?s""".stripMargin)
    assert(rows == Seq(Seq("d1", "400", "alpha"), Seq("d2", "100", "beta")))
    // const-const path with no match is an existence filter -> empty result
    assert(selRing(
      "SELECT ?n WHERE { <n0> schema:knows+ <n99> . <n0> schema:name ?n }").isEmpty)
  }

  test("review regressions: GROUP BY without aggregates = distinct keys") {
    assert(sel("SELECT ?t WHERE { ?s a ?t } GROUP BY ?t ORDER BY ?t")
      == Seq(Seq("http://schema.org/Dataset"), Seq("http://schema.org/File")))
  }

  test("review regressions: multiple FILTERs inside OPTIONAL join scope") {
    val rows = sel(
      """SELECT ?s ?size WHERE { ?s schema:name ?n .
        |OPTIONAL { ?s schema:contentSize ?size . FILTER(?size > 50) FILTER(?size < 300) }
        |} ORDER BY ?s""".stripMargin)
    assert(rows == Seq(Seq("d1", null), Seq("d2", "100"), Seq("p1", null)))
  }

  test("review regressions: VALUES UNDEF is join-compatible with any binding") {
    val rows = sel(
      """SELECT ?s ?n WHERE { ?s schema:name ?n .
        |VALUES ?n { "alpha" UNDEF } } ORDER BY ?s""".stripMargin)
    // UNDEF row is compatible with every solution; "alpha" row adds a dup for d1
    assert(rows.map(_.head).toSet == Set("d1", "d2", "p1"))
    assert(rows.count(_.head == "d1") == 2)
  }

  test("review regressions: ORDER BY numeric var orders numerically") {
    val many = (Seq(("g", "dA", 0, "http://schema.org/contentSize", 2, "99", "", Term.XsdInteger),
      ("g", "dB", 0, "http://schema.org/contentSize", 2, "1000", "", Term.XsdInteger),
      ("g", "dC", 0, "http://schema.org/contentSize", 2, "5", "", Term.XsdInteger)))
      .toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
        "obj_value", "obj_lang", "obj_datatype")
    val out = SparqlEngine.select(many,
      "SELECT ?s WHERE { ?s schema:contentSize ?size } ORDER BY DESC(?size)")
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("dB", "dA", "dC"), s"lexical ordering leaked: $out")
  }

  test("review regressions: MIN/MAX over string vars is lexical; IRI lexer stops") {
    val rows = sel("SELECT (MIN(?n) AS ?m) (MAX(?n) AS ?x) WHERE { ?s schema:name ?n }")
    assert(rows == Seq(Seq("ada", "beta")))
    // '<' followed by var chains must not lex as an IRI
    assert(sel("SELECT ?s WHERE { ?s schema:contentSize ?c . FILTER(?c<?c&&?c>?c) }").isEmpty)
    // GRAPH ?var over a path (now supported): a constant seed absent from
    // every graph evaluates cleanly to zero solutions
    assert(sel("SELECT ?g ?x WHERE { GRAPH ?g { <n0> schema:knows+ ?x } }").isEmpty)
  }

  test("result cap: min(LIMIT, 10000) when capped") {
    val df = SparqlEngine.select(quads, "SELECT ?s ?p ?o WHERE { ?s ?p ?o }", cap = true)
    assert(df.count() <= 10000)
  }

  test("HAVING: aggregate constraint filters groups post-aggregation") {
    // p1 authors 2 docs; each doc subject has 1 author triple
    val rows = sel(
      """SELECT ?p (COUNT(?d) AS ?n) WHERE { ?d schema:author ?p }
        |GROUP BY ?p HAVING (COUNT(?d) > 1) ORDER BY ?p""".stripMargin)
    assert(rows == Seq(Seq("p1", 2L)), rows.toString)
    // HAVING that removes every group
    assert(sel(
      """SELECT ?p (COUNT(?d) AS ?n) WHERE { ?d schema:author ?p }
        |GROUP BY ?p HAVING (COUNT(?d) > 5)""".stripMargin).isEmpty)
    // HAVING over an aggregate not in the projection
    val sums = sel(
      """SELECT ?t WHERE { ?s a ?t . ?s schema:contentSize ?z }
        |GROUP BY ?t HAVING (SUM(?z) >= 400) ORDER BY ?t""".stripMargin)
    assert(sums == Seq(Seq("http://schema.org/Dataset")), sums.toString)
  }

  test("nondeterministic builtins: NOW constant per query, UUID/BNODE fresh per row") {
    // NOW(): identical across expressions and rows of ONE query execution
    val now = sel(
      """SELECT ?s ?t ?t2 WHERE { ?s schema:name ?n .
        |BIND(NOW() AS ?t) BIND(NOW() AS ?t2) }""".stripMargin)
    assert(now.size == 3)
    val stamps = now.flatMap(r => Seq(r(1), r(2))).distinct
    assert(stamps.size == 1, s"NOW must be constant within a query: $stamps")
    assert(stamps.head.asInstanceOf[String]
      .matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z"""))
    // UUID(): a fresh urn:uuid IRI per row; STRUUID(): bare lexical
    val ids = sel(
      """SELECT ?s ?u ?su WHERE { ?s schema:name ?n .
        |BIND(UUID() AS ?u) BIND(STRUUID() AS ?su) }""".stripMargin)
    val us = ids.map(_(1).asInstanceOf[String])
    assert(us.distinct.size == ids.size, "UUID must be unique per row")
    assert(us.forall(_.matches("urn:uuid:[0-9a-f-]{36}")))
    assert(ids.map(_(2).asInstanceOf[String]).forall(_.matches("[0-9a-f-]{36}")))
    // RAND(): xsd:double in [0,1) per row
    val rs = sel("SELECT ?s ?r WHERE { ?s schema:name ?n . BIND(RAND() AS ?r) }")
      .map(_(1).asInstanceOf[Double])
    assert(rs.forall(r => r >= 0.0 && r < 1.0))
    // BNODE(str): equal args share a label within the query; ISBLANK sees it
    val bn = sel(
      """SELECT ?s ?b ?c WHERE { ?s schema:name ?n .
        |BIND(BNODE("x") AS ?b) BIND(BNODE("x") AS ?c)
        |FILTER(ISBLANK(?b)) }""".stripMargin)
    assert(bn.size == 3)
    assert(bn.forall(r => r(1) == r(2)), "BNODE(const) must be stable within a query")
    // fresh BNODE(): distinct per row
    val fresh = sel("SELECT ?s ?b WHERE { ?s schema:name ?n . BIND(BNODE() AS ?b) }")
      .map(_(1).asInstanceOf[String])
    assert(fresh.distinct.size == fresh.size)
  }

  test("sub-SELECT: nested aggregation joins with the outer pattern") {
    // inner query: authors with ≥2 docs; outer: their names
    val rows = sel(
      """SELECT ?name WHERE {
        |  { SELECT ?p (COUNT(?d) AS ?n) WHERE { ?d schema:author ?p }
        |    GROUP BY ?p HAVING (COUNT(?d) > 1) }
        |  ?p schema:name ?name
        |} ORDER BY ?name""".stripMargin)
    assert(rows == Seq(Seq("ada")), rows.toString)
    // sub-select with LIMIT: outer sees only the sliced solutions
    val one = sel(
      """SELECT ?s WHERE {
        |  { SELECT ?s WHERE { ?s schema:contentSize ?z } ORDER BY DESC(?z * 1) LIMIT 1 }
        |} ORDER BY ?s""".stripMargin)
    assert(one == Seq(Seq("d1")), one.toString)
  }
}
