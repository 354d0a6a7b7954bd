package graft.fts

import graft.sparql.RdfTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FTS operator coverage for the driver gate — every query carries a full
  * DuckDB oracle, including the BM25 ranking (fts3): the compared value is
  * the reference's own i64 micro-unit `score_key`, and the f32 cast that
  * precedes quantization swallows the last-ulp differences between the two
  * engines' `ln`/summation (29 mantissa bits of headroom). The oracle SQL
  * mirrors the Scala arithmetic EXPRESSION BY EXPRESSION — every constant is
  * CAST to DOUBLE (bare DuckDB decimals are DECIMAL-typed and would change
  * the arithmetic), compound constants like k1+1 stay compound (constant
  * folding reproduces the Scala double rounding), and the double→i64
  * quantization goes through trunc() because DuckDB's CAST rounds while
  * Spark/Rust truncate.
  */
object FtsQueries {

  // materialized token-clustered index ([[graft.Store]]) — the reference
  // queries its persistent tantivy index, never re-tokenizes per query
  private def postings(s: SparkSession, d: String): DataFrame =
    graft.Store.postings(s, d)

  /** Deterministic integer relevance: total tf of query tokens per subject
    * (exactly reproducible in SQL; same ordering contract as compare_hits). */
  private def rankedInt(s: SparkSession, d: String, query: String): DataFrame = {
    val toks = Search.tokenize(query)
    postings(s, d)
      .filter(col("token").isin(toks: _*))
      .groupBy(col("graph_iri"), col("subject_iri"))
      .agg(sum(col("tf")).cast("long").as("score_key"),
        countDistinct(col("token")).as("n_tokens"))
      .orderBy(col("score_key").desc, col("graph_iri").asc, col("subject_iri").asc)
  }

  /** fts3's hit page: BM25 → merge → the first 50 hits, the frame its
    * enrichment collects. `localMaxPostings` is [[Search.bm25]]'s. */
  private[graft] def bm25Page(s: SparkSession, d: String,
      localMaxPostings: Long = Search.LocalScoreMaxPostings): DataFrame = {
    val hits = Search.bm25(postings(s, d), "spark merge fast", localMaxPostings)
      .withColumn("document_id", regexp_extract(col("graph_iri"), "([0-9]+)$", 1))
      .withColumn("snippet", lit(null: String))
    Search.page(Search.mergeHits(hits), None, 50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fts1_postings" -> { (s, d) =>
      postings(s, d)
        .filter(col("token").isin("merge", "window", "author"))
        .orderBy(col("token"), col("graph_iri"), col("subject_iri"), col("field"))
    },

    "fts2_doc_freq" -> { (s, d) =>
      Fts.docFrequencies(postings(s, d))
        .orderBy(col("df").desc, col("token"))
        .limit(20)
    },

    // full BM25 pipeline: scoring + merge + enrichment, hash-compared to
    // the DuckDB replica below on the quantized score_key
    "fts3_bm25_search" -> { (s, d) =>
      // page FIRST, enrich the 50 survivors: enrichment is 1:1 left joins
      // keyed by hit columns, so it commutes with the top-k — decorating
      // every merged hit only to discard all but a page scanned and
      // broadcast the whole hit set through the describe-joins
      // (r13 optimization, guide §1.2 step 1; ≡ proven by the unchanged
      // fts3 oracle, which enriches-then-limits)
      Enrich.enrich(bm25Page(s, d), graft.Store.quads(s, d),
          RdfTables.registry(s, d), "spark merge fast")
        .orderBy(Search.hitOrder: _*)
        .select("graph_iri", "subject_iri", "score_key", "title", "snippet")
    },

    "fts4_ranked" -> { (s, d) =>
      rankedInt(s, d, "spark merge fast").limit(20)
    },

    // watermark pagination page 2 ≡ OFFSET page_size on the same ordering
    "fts5_page2" -> { (s, d) =>
      val ranked = rankedInt(s, d, "spark merge fast")
        .withColumnRenamed("n_tokens", "nt")
        .select(col("graph_iri"), col("subject_iri"), col("score_key"))
      val page1 = ranked.limit(25).collect()
      val last = page1.last
      val wm = Search.Watermark(last.getLong(2), last.getString(0), last.getString(1))
      ranked.filter(Search.afterWatermark(wm))
        .orderBy(Search.hitOrder: _*)
        .limit(25)
    }
  )

  private val rankedSql =
    """SELECT graph_iri, subject_iri, CAST(SUM(tf) AS BIGINT) AS score_key,
      |       COUNT(DISTINCT token) AS n_tokens
      |FROM postings WHERE token IN ('spark','merge','fast')
      |GROUP BY 1, 2
      |ORDER BY score_key DESC, graph_iri, subject_iri""".stripMargin

  /** DuckDB replica of the fts3 pipeline (scoring → merge-trivial →
    * enrichment → page). See the object Scaladoc for the float-parity rules;
    * snippet/title logic mirrors [[Enrich]] clause by clause. */
  private val bm25Sql: String = {
    val toks = Search.tokenize("spark merge fast")
    val tokList = toks.map(t => s"'$t'").mkString(",")
    val idxTerms = toks.map(t => s"nullif(strpos(lc, '$t'), 0)").mkString(", ")
    val ns = graft.sparql.RdfTables.SchemaNs
    val fieldRank = Fts.IndexedFields.values.toSeq.sorted.zipWithIndex
      .map { case (f, r) => s"WHEN '$ns$f' THEN $r" }.mkString(" ")
    val indexedIn = Fts.IndexedFields.keys.toSeq.sorted.map(i => s"'$i'").mkString(", ")
    s"""WITH ${Fts.postingsCte},
       |${graft.sparql.RdfTables.quadsCte},
       |${graft.sparql.RdfTables.registryCte},
       |corpus AS (SELECT graph_iri, SUM(tf) AS dl FROM postings GROUP BY graph_iri),
       |stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM corpus),
       |matchedt AS (SELECT * FROM postings WHERE token IN ($tokList)),
       |matched AS (SELECT token, graph_iri, subject_iri, SUM(tf) AS tf
       |            FROM matchedt GROUP BY 1, 2, 3),
       |dfreq AS (SELECT token, COUNT(DISTINCT graph_iri) AS df FROM matchedt GROUP BY token),
       |weighted AS (
       |  SELECT m.graph_iri, m.subject_iri,
       |         ln(CAST(1.0 AS DOUBLE) +
       |            (CAST(s.n - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |            (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |         * ((CAST(m.tf AS DOUBLE) * (CAST(${Search.K1} AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
       |            (CAST(m.tf AS DOUBLE) + CAST(${Search.K1} AS DOUBLE) *
       |             ((CAST(1.0 AS DOUBLE) - CAST(${Search.B} AS DOUBLE)) +
       |              (CAST(${Search.B} AS DOUBLE) * CAST(c.dl AS DOUBLE)) / s.avgdl))) AS w
       |  FROM matched m
       |  JOIN dfreq d ON d.token = m.token
       |  JOIN corpus c ON c.graph_iri = m.graph_iri, stats s),
       |hits AS (
       |  SELECT graph_iri, subject_iri,
       |         CAST(trunc(CAST(CAST(SUM(w) AS REAL) AS DOUBLE) * 1e6) AS BIGINT) AS score_key
       |  FROM weighted GROUP BY 1, 2),
       |names AS (
       |  SELECT graph_iri, subject AS subject_iri, MIN(obj_value) AS name
       |  FROM quads WHERE predicate = '${ns}name' AND obj_kind = ${graft.sparql.Kind.Literal}
       |  GROUP BY 1, 2),
       |contents AS (
       |  SELECT graph_iri, subject AS subject_iri,
       |         string_agg(obj_value, ' ' ORDER BY
       |           CASE predicate $fieldRank ELSE 99 END, obj_value) AS content
       |  FROM quads
       |  WHERE obj_kind = ${graft.sparql.Kind.Literal} AND predicate IN ($indexedIn)
       |  GROUP BY 1, 2),
       |enriched AS (
       |  SELECT h.graph_iri, h.subject_iri, h.score_key,
       |         COALESCE(n.name,
       |                  NULLIF(regexp_extract(h.subject_iri, '([^/#:]+)$$', 1), ''),
       |                  r.document_path) AS title,
       |         CASE WHEN c.content IS NULL THEN NULL
       |              WHEN least($idxTerms) IS NULL THEN substr(c.content, 1, ${Enrich.SnippetMaxLen})
       |              ELSE substr(c.content,
       |                          greatest(0, least($idxTerms) - 1 - ${Enrich.SnippetLead}) + 1,
       |                          ${Enrich.SnippetMaxLen})
       |         END AS snippet
       |  FROM hits h
       |  LEFT JOIN names n ON n.graph_iri = h.graph_iri AND n.subject_iri = h.subject_iri
       |  LEFT JOIN registry r ON r.graph_iri = h.graph_iri
       |  LEFT JOIN (SELECT graph_iri, subject_iri, content,
       |                    lower(content) AS lc FROM contents) c
       |    ON c.graph_iri = h.graph_iri AND c.subject_iri = h.subject_iri)
       |SELECT graph_iri, subject_iri, score_key, title, snippet
       |FROM enriched
       |ORDER BY score_key DESC, graph_iri, subject_iri
       |LIMIT 50""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "fts3_bm25_search" -> bm25Sql,

    "fts1_postings" ->
      s"""WITH ${Fts.postingsCte}
         |SELECT token, graph_iri, subject_iri, field, tf FROM postings
         |WHERE token IN ('merge','window','author')
         |ORDER BY token, graph_iri, subject_iri, field""".stripMargin,

    "fts2_doc_freq" ->
      s"""WITH ${Fts.postingsCte}
         |SELECT token, COUNT(DISTINCT graph_iri) AS df FROM postings
         |GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin,

    "fts4_ranked" ->
      s"""WITH ${Fts.postingsCte}
         |$rankedSql LIMIT 20""".stripMargin,

    "fts5_page2" ->
      s"""WITH ${Fts.postingsCte},
         |ranked AS ($rankedSql)
         |SELECT graph_iri, subject_iri, score_key FROM ranked
         |LIMIT 25 OFFSET 25""".stripMargin
  )
}
