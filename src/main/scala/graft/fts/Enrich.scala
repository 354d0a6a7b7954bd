package graft.fts

import scala.jdk.CollectionConverters._

import graft.sparql.{Kind, Materialize, RdfTables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Hit enrichment (reference `search_enrichment.rs`), applied to one page
  * of search hits:
  *
  *  - `hit_title` (`:14-38`): schema:name literal, else last path segment of
  *    the subject IRI, else the document path.
  *  - `hit_snippet` (`:42-75`): concat name/description/keywords/identifier
  *    literals, window around the first matching query token, else prefix,
  *    capped length.
  */
object Enrich {

  val SnippetMaxLen = 160
  val SnippetLead = 40

  /** Snippet: window around the first query-token occurrence, else prefix. */
  val snippetUdf: UserDefinedFunction = udf { (content: String, tokens: Seq[String]) =>
    if (content == null) null
    else {
      val lower = content.toLowerCase
      val idx = tokens.iterator.map(lower.indexOf(_)).filter(_ >= 0)
        .foldLeft(Int.MaxValue)(math.min)
      val s =
        if (idx == Int.MaxValue) content.take(SnippetMaxLen)
        else {
          val start = math.max(0, idx - SnippetLead)
          content.substring(start, math.min(content.length, start + SnippetMaxLen))
        }
      s
    }
  }

  /** The most hits one [[enrich]] call takes: the deepest page a cursor may
    * reach plus one full page (`search_cursor.rs:13-15`). */
  val MaxHitPage: Int = Search.MaxPaginationDepth + Search.MaxPageSize

  /** Raised when the hits handed to [[enrich]] exceed [[MaxHitPage]] rows. */
  final class HitPageTooLarge(val limit: Int)
      extends RuntimeException(s"hit page exceeds $limit rows")

  /** Join hits with titles + snippets (the describe-join at
    * `handle.rs:5286-5292`).
    *
    * The hit page is collected once, bounded by [[MaxHitPage]], and carried
    * on as a local relation, so its search lineage runs exactly once. Quads
    * are then scoped to the hit graphs by literal `graph_bucket IN` /
    * `graph_iri IN` predicates, which prune partition directories, and
    * semi-joined to the broadcast hit (graph, subject) keys. One aggregate
    * over those literals yields each hit's `name` and snippet `content`: one
    * quads scan, O(quads-of-hit-subjects), not O(corpus). The title is
    * `coalesce(name, last IRI segment, document_path)` on the hits.
    *
    * Output is 1:1 per hit row, which is load-bearing (r14 ADVICE): the
    * fts3 page-then-enrich commute (FtsQueries) only holds because these
    * joins never inflate the hit count. The aggregate is one row per
    * (graph, subject), and `registry` carries ONE row per graph_iri by
    * fixture contract (RdfTables.registry derives it 1:1 from documents). */
  def enrich(hits: DataFrame, quads: DataFrame, registry: DataFrame,
      query: String): DataFrame = {
    val spark = hits.sparkSession
    val rows = hits.limit(MaxHitPage + 1).collect()
    if (rows.length > MaxHitPage) throw new HitPageTooLarge(MaxHitPage)
    val hitPage = spark.createDataFrame(rows.toSeq.asJava, hits.schema)
    val keys = rows.map(r => (r.getAs[String]("graph_iri"), r.getAs[String]("subject_iri"))).distinct
    val graphs = keys.map(_._1).distinct.toSeq
    val hitKeys = spark.createDataFrame(keys.toSeq).toDF("graph_iri", "subject")
    val inGraphs = col("graph_iri").isin(graphs: _*)
    val scope =
      if (quads.columns.contains("graph_bucket"))
        col("graph_bucket").isin(graphs.map(g => Materialize.bucketCol(lit(g))): _*) && inGraphs
      else inGraphs
    val fieldRank = Fts.IndexedFields.values.toSeq.sorted.zipWithIndex.toMap
    val rank = Fts.IndexedFields.foldLeft(lit(99)) { case (acc, (iri, name)) =>
      when(col("predicate") === iri, lit(fieldRank(name))).otherwise(acc)
    }
    val described = quads
      .filter(scope && col("obj_kind") === Kind.Literal &&
        col("predicate").isin(Fts.IndexedFields.keys.toSeq: _*))
      .join(broadcast(hitKeys), Seq("graph_iri", "subject"), "left_semi")
      .groupBy(col("graph_iri"), col("subject").as("subject_iri"))
      .agg(
        min(when(col("predicate") === RdfTables.SchemaNs + "name", col("obj_value"))).as("name"),
        array_join(transform(array_sort(collect_list(
          struct(rank.as("r"), col("obj_value").as("v")))), _.getField("v")), " ").as("content"))
    val paths = registry.filter(inGraphs).select(col("graph_iri"), col("document_path"))
    // both sides are at most one row per hit: broadcast them, the static
    // planner cannot see through the aggregation or the filter
    hitPage
      .join(broadcast(described), Seq("graph_iri", "subject_iri"), "left_outer")
      .join(broadcast(paths), Seq("graph_iri"), "left_outer")
      .withColumn("title", coalesce(
        col("name"),
        nullif(regexp_extract(col("subject_iri"), "([^/#:]+)$", 1), lit("")),
        col("document_path")))
      .withColumn("snippet", snippetUdf(col("content"), lit(Search.tokenize(query).toArray)))
      .drop("name", "document_path", "content")
  }
}
