package graft.sparql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL operator coverage as driver-contract queries: each entry runs a
  * SPARQL query through the full parse→compile→execute pipeline over the
  * derived `quads` table; the oracle re-derives the same result in plain SQL
  * over `documents` (independent of the compiler — this validates BGP joins,
  * OPTIONAL scope, MINUS, UNION, GROUP BY, EXISTS, VALUES/BIND, GRAPH and
  * visibility scoping end-to-end).
  */
object SparqlQueries {

  /** Unscoped queries read the materialized store: graph-bucketed quads for
    * GRAPH scans, the pre-deduped triples table for default-graph scans (no
    * per-pattern dedup shuffle). Visibility-scoped queries (sp15/sp16) must
    * dedup after scoping, so they keep the scan-level dedup path. */
  private def run(sparql: String)(s: SparkSession, d: String): DataFrame =
    SparqlEngine.select(graft.Store.quads(s, d), sparql,
      defaultGraph = Some(graft.Store.triplesBucketed(s, d)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // canonical reference query (metadata_query_concurrency.rs:177)
    "sp1_bgp" -> run(
      """SELECT ?s ?name WHERE { ?s a schema:Dataset . ?s schema:name ?name }
        |ORDER BY ?s""".stripMargin) _,

    "sp2_filter_numeric" -> run(
      """SELECT ?s ?size WHERE { ?s schema:contentSize ?size . FILTER(?size > 300) }
        |ORDER BY ?s""".stripMargin) _,

    "sp3_optional" -> run(
      """SELECT ?s ?name ?kw WHERE {
        |  ?s a schema:Dataset ; schema:name ?name .
        |  OPTIONAL { ?s schema:keywords ?kw }
        |} ORDER BY ?s""".stripMargin) _,

    // the OPTIONAL-FILTER scope trap: filter belongs to the join, not after it
    "sp4_optional_filter" -> run(
      """SELECT ?s ?size WHERE {
        |  ?s a schema:File .
        |  OPTIONAL { ?s schema:contentSize ?size . FILTER(?size > 300) }
        |} ORDER BY ?s""".stripMargin) _,

    "sp5_union" -> run(
      """SELECT ?s WHERE {
        |  { ?s a schema:Dataset } UNION { ?s schema:inLanguage "de" }
        |} ORDER BY ?s""".stripMargin) _,

    "sp6_minus" -> run(
      """SELECT ?s WHERE { ?s a schema:Dataset . MINUS { ?s schema:keywords ?k } }
        |ORDER BY ?s""".stripMargin) _,

    "sp7_group_agg" -> run(
      """SELECT ?lang (COUNT(*) AS ?n) (SUM(?size) AS ?total) WHERE {
        |  ?s schema:inLanguage ?lang ; schema:contentSize ?size
        |} GROUP BY ?lang ORDER BY ?lang""".stripMargin) _,

    "sp8_order_slice" -> run(
      """SELECT ?s ?size WHERE { ?s schema:contentSize ?size }
        |ORDER BY DESC(?size * 1) ?s LIMIT 10""".stripMargin) _,

    // ASK short-circuits onto the UNBUCKETED triples table: an ASK needs
    // one row, so paying the bucketed layout's many-file listing/planning
    // cost per query is exactly the wrong trade (r6 showed 4.5× regression
    // when ASK rode the BGP layout). The bucketed layout exists to remove
    // join shuffles — an ASK's limit(1) never reaches a shuffle that
    // matters.
    "sp9_ask" -> ((s: SparkSession, d: String) =>
      SparqlEngine.ask(graft.Store.quads(s, d),
        "ASK { ?s a schema:Dataset . ?s schema:name ?name }",
        defaultGraph = Some(graft.Store.triples(s, d)))),

    "sp10_graph" -> run(
      """SELECT ?p ?o WHERE { GRAPH <graph:42> { ?s ?p ?o } } ORDER BY ?p ?o""") _,

    // cross-subject BGP join; exercises default-graph set semantics (the
    // person triples repeat across graphs and must dedup)
    "sp11_join_author" -> run(
      """SELECT ?doc ?aname WHERE {
        |  ?doc schema:author ?person . ?person schema:name ?aname
        |} ORDER BY ?doc""".stripMargin) _,

    "sp12_values_bind" -> run(
      """SELECT ?s ?dbl WHERE {
        |  ?s schema:contentSize ?size ; schema:inLanguage ?lang .
        |  VALUES ?lang { "de" "en" }
        |  BIND(?size * 2 AS ?dbl)
        |} ORDER BY ?s""".stripMargin) _,

    "sp13_exists" -> run(
      """SELECT ?s WHERE { ?s a schema:File . FILTER EXISTS { ?s schema:keywords ?k } }
        |ORDER BY ?s""".stripMargin) _,

    "sp14_not_exists" -> run(
      """SELECT ?s WHERE { ?s a schema:Dataset . FILTER NOT EXISTS { ?s dcterms:conformsTo ?c } }
        |ORDER BY ?s""".stripMargin) _,

    // authorization scoping: anonymous caller sees public, live graphs only
    "sp15_visibility_anon" -> ((s: SparkSession, d: String) => {
      val scoped = SparqlEngine.scoped(graft.Store.quads(s, d),
        RdfTables.visibleGraphs(s, d, "anonymous"))
      SparqlEngine.select(scoped,
        "SELECT ?s ?name WHERE { ?s a schema:Dataset . ?s schema:name ?name } ORDER BY ?s")
    }),

    // property paths (GraphPattern::Path): transitive closure over the
    // 20-node knows-ring, sequence, alternation + inverse
    "sp17_path_plus" -> run(
      "SELECT ?x WHERE { <person:0> schema:knows+ ?x } ORDER BY ?x") _,

    "sp18_path_seq" -> run(
      "SELECT ?doc ?friend WHERE { ?doc schema:author/schema:knows ?friend } ORDER BY ?doc") _,

    "sp19_path_alt_inv" -> run(
      "SELECT ?x WHERE { ?x schema:knows|^schema:knows <person:5> } ORDER BY ?x") _,

    // seeded evaluation through a sequence: the knows+ level search starts
    // from the single author node, never computing the global knows+ closure
    "sp20_path_seeded_seq" -> run(
      "SELECT ?x WHERE { <doc:6> schema:author/schema:knows+ ?x } ORDER BY ?x") _,

    // orphan-entity filter: plant a 2-node ghost cluster in every 4th graph
    // (unreachable from the root doc, one edge back INTO the root tree —
    // inbound edges must not rescue an orphan); filtering must restore
    // exactly the unplanted corpus, counted per predicate
    "or1_orphan_filter" -> { (s, d) =>
      val base = RdfTables.quads(s, d)
      val docs = graft.Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
      val g = concat(lit("graph:"), col("doc_id").cast("string"))
      val ghost = concat(lit("ghost:"), col("doc_id").cast("string"))
      val ghost2 = concat(lit("ghost2:"), col("doc_id").cast("string"))
      // the 4 ghost triples explode out of ONE documents scan (a 4-way
      // unionByName re-read the source four times per evaluation of the
      // planted lineage — and the orphan filter evaluates it more than once)
      def t(subj: org.apache.spark.sql.Column, pred: String, kind: Int,
          v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        struct(subj.as("subject"), lit(RdfTables.SchemaNs + pred).as("predicate"),
          lit(kind).as("obj_kind"), v.as("obj_value"))
      val planted = base.unionByName(
        docs.select(g.as("graph_iri"), explode(array(
            t(ghost, "name", Kind.Literal, concat(lit("ghost-"), col("doc_id"))),
            t(ghost, "knows", Kind.Iri, ghost2),
            t(ghost2, "name", Kind.Literal, concat(lit("ghost2-"), col("doc_id"))),
            t(ghost2, "mentions", Kind.Iri,
              concat(lit("doc:"), col("doc_id").cast("string"))))).as("t"))
          .select(col("graph_iri"), col("t.subject").as("subject"),
            lit(0).as("subject_kind"), col("t.predicate").as("predicate"),
            col("t.obj_kind").as("obj_kind"), col("t.obj_value").as("obj_value"),
            lit("").as("obj_lang"), lit("").as("obj_datatype")))
      val roots = graft.Tables.documents(s, d).select(
        concat(lit("graph:"), col("doc_id").cast("string")).as("graph_iri"),
        concat(lit("doc:"), col("doc_id").cast("string")).as("root"))
      Orphans.filterOrphaned(planted, roots)
        .groupBy(col("predicate")).agg(count(lit(1)).as("n"))
        .orderBy(col("predicate"))
    },

    // negated property set: one scan with a NOT-IN predicate filter leaves
    // only the author / conformsTo / knows edges (set semantics over the
    // pre-deduped default graph)
    "sp23_nps" -> run(
      """SELECT ?s ?o WHERE {
        |  ?s !(schema:name|schema:description|schema:identifier|schema:contentSize|schema:inLanguage|schema:keywords|a) ?o
        |} ORDER BY ?s ?o""".stripMargin) _,

    // {n,m} quantifier, seeded: 2..4 hops around the 20-person knows ring
    "sp24_path_range" -> run(
      "SELECT ?x WHERE { <person:0> schema:knows{2,4} ?x } ORDER BY ?x") _,

    // property path under GRAPH ?var: each graph holds ONE knows edge
    // (person:i%20 -> person:(i+1)%20), so the per-graph closure from
    // person:0 is exactly {person:1} in graphs where doc_id%20=0 — a global
    // closure would wrap the whole 20-ring and leak across graphs
    "sp26_graph_path" -> run(
      """SELECT ?g ?x WHERE { GRAPH ?g { <person:0> schema:knows+ ?x } }
        |ORDER BY ?g ?x""".stripMargin) _,

    // scalar builtins end-to-end: STRSTARTS filter, STRAFTER/MD5/IRI binds —
    // the IRI constructor joins back into the graph for the author name
    "sp25_builtins" -> run(
      """SELECT ?s ?suffix ?h ?aname WHERE {
        |  ?s schema:name ?n . FILTER(STRSTARTS(?n, "src7-"))
        |  BIND(STRAFTER(?n, "-doc-") AS ?suffix) BIND(MD5(?n) AS ?h)
        |  ?s schema:identifier ?id .
        |  BIND(IRI(CONCAT("person:", STR(?id))) AS ?p)
        |  OPTIONAL { ?p schema:name ?aname }
        |} ORDER BY ?s""".stripMargin) _,

    // HAVING: post-aggregation constraint (hoisted to a __h alias + filter)
    "sp21_having" -> run(
      """SELECT ?lang (COUNT(*) AS ?n) WHERE {
        |  ?s schema:inLanguage ?lang ; schema:contentSize ?size .
        |  FILTER(?size > 300)
        |} GROUP BY ?lang HAVING (COUNT(*) > 40) ORDER BY ?lang""".stripMargin) _,

    // sub-SELECT: nested aggregation joined with an outer BGP
    "sp22_subselect" -> run(
      """SELECT ?aname ?total WHERE {
        |  { SELECT ?person (SUM(?size) AS ?total) WHERE {
        |      ?doc schema:author ?person . ?doc schema:contentSize ?size
        |    } GROUP BY ?person }
        |  ?person schema:name ?aname
        |} ORDER BY ?aname""".stripMargin) _,

    "sp16_visibility_member" -> ((s: SparkSession, d: String) => {
      val scoped = SparqlEngine.scoped(graft.Store.quads(s, d),
        RdfTables.visibleGraphs(s, d, "member:grp-3"))
      SparqlEngine.select(scoped,
        "SELECT ?s ?name WHERE { ?s a schema:Dataset . ?s schema:name ?name } ORDER BY ?s")
    })
  )

  val oracles: Map[String, String] = Map(
    "sp1_bgp" ->
      """SELECT 'doc:'||doc_id AS s, source||'-doc-'||doc_id AS name
        |FROM documents WHERE doc_id%3=0 ORDER BY 1""".stripMargin,

    "sp2_filter_numeric" ->
      """SELECT 'doc:'||doc_id AS s, CAST(n_chars AS VARCHAR) AS size
        |FROM documents WHERE n_chars > 300 ORDER BY 1""".stripMargin,

    "sp3_optional" ->
      """SELECT 'doc:'||doc_id AS s, source||'-doc-'||doc_id AS name,
        |  CASE WHEN doc_id%5=0 THEN 'kw-'||(doc_id%7) END AS kw
        |FROM documents WHERE doc_id%3=0 ORDER BY 1""".stripMargin,

    "sp4_optional_filter" ->
      """SELECT 'doc:'||doc_id AS s,
        |  CASE WHEN n_chars > 300 THEN CAST(n_chars AS VARCHAR) END AS size
        |FROM documents WHERE doc_id%3<>0 ORDER BY 1""".stripMargin,

    "sp5_union" ->
      """SELECT s FROM (
        |  SELECT 'doc:'||doc_id AS s FROM documents WHERE doc_id%3=0
        |  UNION ALL
        |  SELECT 'doc:'||doc_id AS s FROM documents WHERE lang='de'
        |) t ORDER BY s""".stripMargin,

    "sp6_minus" ->
      """SELECT 'doc:'||doc_id AS s FROM documents
        |WHERE doc_id%3=0 AND doc_id%5<>0 ORDER BY 1""".stripMargin,

    "sp7_group_agg" ->
      """SELECT lang, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "sp8_order_slice" ->
      """SELECT 'doc:'||doc_id AS s, CAST(n_chars AS VARCHAR) AS size
        |FROM documents ORDER BY n_chars DESC, 'doc:'||doc_id LIMIT 10""".stripMargin,

    "sp9_ask" ->
      "SELECT COUNT(*) > 0 AS ask FROM documents WHERE doc_id%3=0",

    "sp10_graph" ->
      s"""WITH ${RdfTables.quadsCte}
         |SELECT predicate AS p, obj_value AS o FROM quads
         |WHERE graph_iri='graph:42' ORDER BY p, o""".stripMargin,

    "sp11_join_author" ->
      """SELECT 'doc:'||doc_id AS doc, 'author-'||(doc_id%20) AS aname
        |FROM documents ORDER BY 1""".stripMargin,

    "sp12_values_bind" ->
      """SELECT 'doc:'||doc_id AS s, CAST(n_chars AS DOUBLE) * 2 AS dbl
        |FROM documents WHERE lang IN ('de','en') ORDER BY 1""".stripMargin,

    "sp13_exists" ->
      """SELECT 'doc:'||doc_id AS s FROM documents
        |WHERE doc_id%3<>0 AND doc_id%5=0 ORDER BY 1""".stripMargin,

    "sp14_not_exists" ->
      """SELECT 'doc:'||doc_id AS s FROM documents
        |WHERE doc_id%3=0 AND doc_id%2<>0 ORDER BY 1""".stripMargin,

    "sp15_visibility_anon" ->
      """SELECT 'doc:'||doc_id AS s, source||'-doc-'||doc_id AS name
        |FROM documents
        |WHERE doc_id%3=0 AND doc_id%2=0 AND doc_id%97<>0 ORDER BY 1""".stripMargin,

    "sp17_path_plus" ->
      """SELECT DISTINCT 'person:'||(doc_id%20) AS x FROM documents ORDER BY x""",

    "sp18_path_seq" ->
      """SELECT 'doc:'||doc_id AS doc, 'person:'||((doc_id+1)%20) AS friend
        |FROM documents ORDER BY doc""".stripMargin,

    "sp19_path_alt_inv" ->
      """SELECT x FROM (VALUES ('person:4'), ('person:6')) t(x) ORDER BY x""",

    // knows+ from any node of the 20-person ring reaches the whole ring
    "sp20_path_seeded_seq" ->
      """SELECT DISTINCT 'person:'||(doc_id%20) AS x FROM documents ORDER BY x""",

    "sp16_visibility_member" ->
      """SELECT 'doc:'||doc_id AS s, source||'-doc-'||doc_id AS name
        |FROM documents
        |WHERE doc_id%3=0 AND (doc_id%2=0 OR doc_id%10=3) AND doc_id%97<>0
        |ORDER BY 1""".stripMargin,

    // the ghost clusters vanish: counts equal the unplanted corpus
    "or1_orphan_filter" ->
      s"""WITH ${RdfTables.quadsCte}
         |SELECT predicate, COUNT(*) AS n FROM quads
         |GROUP BY predicate ORDER BY predicate""".stripMargin,

    // surviving predicates: author (one per doc), conformsTo (even ids),
    // knows (the deduped 20-ring)
    "sp23_nps" ->
      """SELECT s, o FROM (
        |  SELECT 'doc:'||doc_id AS s, 'person:'||(doc_id%20) AS o FROM documents
        |  UNION ALL
        |  SELECT 'doc:'||doc_id, 'https://w3id.org/ro/crate/'||(doc_id%4)
        |  FROM documents WHERE doc_id%2=0
        |  UNION ALL
        |  SELECT DISTINCT 'person:'||(doc_id%20), 'person:'||((doc_id+1)%20)
        |  FROM documents
        |) t ORDER BY s, o""".stripMargin,

    "sp24_path_range" ->
      """SELECT x FROM (VALUES ('person:2'), ('person:3'), ('person:4')) t(x)
        |ORDER BY x""".stripMargin,

    "sp26_graph_path" ->
      """SELECT 'graph:'||doc_id AS g, 'person:1' AS x FROM documents
        |WHERE doc_id%20=0 ORDER BY g""".stripMargin,

    // persons exist for doc_id 0..19 only, so the IRI-joined author name
    // is null past the ring
    "sp25_builtins" ->
      """SELECT 'doc:'||doc_id AS s, CAST(doc_id AS VARCHAR) AS suffix,
        |       md5(source||'-doc-'||doc_id) AS h,
        |       CASE WHEN doc_id < 20 THEN 'author-'||doc_id END AS aname
        |FROM documents WHERE starts_with(source||'-doc-'||doc_id, 'src7-')
        |ORDER BY s""".stripMargin,

    "sp21_having" ->
      """SELECT lang, COUNT(*) AS n FROM documents
        |WHERE n_chars > 300 GROUP BY lang HAVING COUNT(*) > 40
        |ORDER BY lang""".stripMargin,

    "sp22_subselect" ->
      """SELECT 'author-'||(doc_id%20) AS aname,
        |  CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total
        |FROM documents GROUP BY doc_id%20 ORDER BY aname""".stripMargin
  )
}
