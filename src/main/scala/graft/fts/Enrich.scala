package graft.fts

import graft.sparql.{Kind, Materialize, RdfTables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Hit enrichment (reference `search_enrichment.rs`), applied to one page
  * of search hits:
  *
  *  - `hit_title` (`:14-38`): schema:name literal, else last path segment of
  *    the subject IRI, else the document path.
  *  - `hit_snippet` (`:42-75`): concat name/description/keywords/identifier
  *    literals, window around the first matching query token, else prefix,
  *    capped length.
  *
  * Scale: enrichment runs on the driver only. A page holds at most
  * [[MaxHitPage]] hits, and their subjects' literals are read by one scan
  * that the hit graphs prune to their `graph_bucket` directories, bounded
  * at [[MaxHitLiterals]] rows; past either bound it raises a typed error
  * rather than falling back to a distributed plan. Its cost is
  * O(quads-of-hit-graphs), not O(corpus), and it starts at most three jobs:
  * none for a hit page that is a local relation (as [[Search.page]]
  * returns), one for the literals and one for the document paths.
  */
object Enrich {

  val SnippetMaxLen = 160
  val SnippetLead = 40

  /** Snippet of `content`: a window around the first query-token
    * occurrence, else its prefix; null for null content. */
  def snippetOf(content: String, tokens: Seq[String]): String =
    if (content == null) null
    else {
      val lower = content.toLowerCase
      val idx = tokens.iterator.map(lower.indexOf(_)).filter(_ >= 0)
        .foldLeft(Int.MaxValue)(math.min)
      if (idx == Int.MaxValue) content.take(SnippetMaxLen)
      else {
        val start = math.max(0, idx - SnippetLead)
        content.substring(start, math.min(content.length, start + SnippetMaxLen))
      }
    }

  /** The most hits one [[enrich]] call takes: the deepest page a cursor may
    * reach plus one full page (`search_cursor.rs:13-15`). */
  val MaxHitPage: Int = Search.MaxPaginationDepth + Search.MaxPageSize

  /** The most indexed literals one [[enrich]] call reads for its hits: 100
    * per hit of a full [[MaxHitPage]]. */
  val MaxHitLiterals: Int = 100 * MaxHitPage

  /** Raised when the hits handed to [[enrich]] exceed [[MaxHitPage]] rows. */
  final class HitPageTooLarge(val limit: Int)
      extends RuntimeException(s"hit page exceeds $limit rows")

  /** Raised when a hit page's subjects carry more than [[MaxHitLiterals]]
    * indexed literals. */
  final class HitLiteralsTooLarge(val limit: Int)
      extends RuntimeException(s"hit page literals exceed $limit rows")

  /** The indexed literals of the hit subjects `subjects` in the hit graphs
    * `graphs`: (graph_iri, subject, predicate, obj_value). Literal
    * `graph_bucket IN` / `graph_iri IN` predicates prune the quads'
    * partition directories and `subject IN` reaches the parquet scan, so
    * this reads O(quads-of-hit-graphs), not O(corpus). */
  private[graft] def hitLiterals(quads: DataFrame, graphs: Seq[String],
      subjects: Seq[String]): DataFrame = {
    val inGraphs = col("graph_iri").isin(graphs: _*)
    val scope =
      if (quads.columns.contains("graph_bucket"))
        col("graph_bucket").isin(graphs.map(g => Materialize.bucketCol(lit(g))): _*) && inGraphs
      else inGraphs
    quads
      .filter(scope && col("subject").isin(subjects: _*) && col("obj_kind") === Kind.Literal &&
        col("predicate").isin(Fts.IndexedFields.keys.toSeq: _*))
      .select(col("graph_iri"), col("subject"), col("predicate"), col("obj_value"))
  }

  /** Adds `title` and `snippet` to a page of hits (the describe-join at
    * `handle.rs:5286-5292`), on the driver.
    *
    * Three bounded collects: the hit page ([[MaxHitPage]] rows, a local
    * relation when it comes from [[Search]]), the hit subjects' indexed
    * literals ([[hitLiterals]], [[MaxHitLiterals]] rows) and the hit graphs'
    * document paths from `registry`, which carries one row per graph_iri by
    * fixture contract (RdfTables.registry derives it 1:1 from documents).
    * Per hit, `name` is the least schema:name literal and `content` joins
    * its literals ordered by field, then value; the title is
    * `coalesce(name, last IRI segment, document_path)` and the snippet
    * [[snippetOf]] the content. The result is a local relation of the hit
    * columns, less any `snippet`, then `title` and `snippet`.
    *
    * Output is 1:1 per hit row, which is load-bearing (r14 ADVICE): the
    * fts3 page-then-enrich commute (FtsQueries) only holds because
    * enrichment never inflates the hit count. */
  def enrich(hits: DataFrame, quads: DataFrame, registry: DataFrame,
      query: String): DataFrame = {
    val rows = Search.collectAtMost(hits, MaxHitPage).getOrElse(throw new HitPageTooLarge(MaxHitPage))
    val Seq(g, s) = Seq("graph_iri", "subject_iri").map(hits.schema.fieldIndex)
    val kept = hits.schema.fields.indices.filter(hits.schema(_).name != "snippet")
    val schema = StructType(kept.map(hits.schema(_)) ++
      Seq(StructField("title", StringType), StructField("snippet", StringType)))
    if (rows.isEmpty) return Search.local(hits.sparkSession, schema, Nil)

    val keys = rows.map(r => (r.getString(g), r.getString(s))).toSet
    val graphs = keys.map(_._1).toSeq
    val literals = Search.collectAtMost(hitLiterals(quads, graphs, keys.map(_._2).toSeq), MaxHitLiterals)
      .getOrElse(throw new HitLiteralsTooLarge(MaxHitLiterals))
      .filter(r => keys((r.getString(0), r.getString(1))))
      .groupBy(r => (r.getString(0), r.getString(1)))
    val paths = Search.collectAtMost(
        registry.filter(col("graph_iri").isin(graphs: _*)).select(col("graph_iri"), col("document_path")),
        graphs.size)
      .getOrElse(throw new IllegalStateException("registry holds more than one row per hit graph"))
      .map(r => r.getString(0) -> r.getString(1)).toMap

    val schemaName = RdfTables.SchemaNs + "name"
    val fieldRank = Fts.IndexedFields.values.toSeq.sorted.zipWithIndex.toMap
    val rank = Fts.IndexedFields.map { case (iri, name) => iri -> fieldRank(name) }
    val lastSegment = "([^/#:]+)$".r
    val tokens = Search.tokenize(query)
    val out = rows.toSeq.map { r =>
      val (graph, subject) = (r.getString(g), r.getString(s))
      val described = literals.getOrElse((graph, subject), Array.empty[Row])
      val name = described.filter(_.getString(2) == schemaName).map(_.getString(3)).filter(_ != null)
        .reduceOption((a, b) => if (Search.cmp(a, b) <= 0) a else b)
      val content =
        if (described.isEmpty) null
        else described.filter(!_.isNullAt(3)).map(l => (rank(l.getString(2)), l.getString(3)))
          .sortWith((a, b) => a._1 < b._1 || (a._1 == b._1 && Search.cmp(a._2, b._2) < 0))
          .map(_._2).mkString(" ")
      val segment = Option(subject).flatMap(lastSegment.findFirstMatchIn).map(_.group(1)).filter(_.nonEmpty)
      val title = name.orElse(segment).orElse(paths.get(graph)).orNull
      Row.fromSeq(kept.map(r.get) ++ Seq(title, snippetOf(content, tokens)))
    }
    Search.local(hits.sparkSession, schema, out)
  }
}
