package perfbench

import graft.Store
import graft.catalog.{Listing, ObjectTables}
import graft.fts.{Enrich, Search}
import graft.index.IriIndex
import graft.sparql.{RdfTables, SparqlEngine}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One generated read request: a kind and its tab-separated arguments. */
final case class Req(id: String, kind: String, args: IndexedSeq[String]) {
  def module: String = kind match {
    case "select" | "scoped" | "ask" => "sparql"
    case "search" => "fts"
    case "list_v2" | "list_versions" => "catalog"
    case "backlinks" => "index"
  }
}

object Req {
  def parse(line: String): Req = {
    val f = line.split("\t", -1).toIndexedSeq
    Req(f(0), f(1), f.drop(2))
  }
}

/** Runs requests and gates through the engine's public calls, one layer
  * span per call: `source` for the input frames (Store layouts, object and
  * registry tables), `construct` for the call that returns the DataFrame,
  * and `exec` for collecting its rows. Returns the canonical result. */
final class Ops(spark: SparkSession, dir: String) {

  private lazy val gates = graft.SparkEntry.queries

  private def rows(op: Op, df: DataFrame, collect: DataFrame => Seq[Row]): Check.Result = {
    val r = op.span("exec")(collect(df))
    op.rows += r.size
    Check.canonical(df.columns.toSeq, r)
  }

  private def plain(df: DataFrame): Seq[Row] = df.collect().toSeq
  private def capped(df: DataFrame): Seq[Row] = SparqlEngine.collectCapped(df)._1
  private def opt(s: String): Option[String] = if (s.isEmpty) None else Some(s)

  /** Registry records the caller may see (the visibility scope of backlinks). */
  private def visibleRegistry(caller: String): DataFrame = {
    val r = RdfTables.registry(spark, dir).filter(!col("deleted"))
    if (caller == "anonymous") r.filter(col("public"))
    else r.filter(col("public") || col("group_id") === caller.stripPrefix("member:"))
  }

  def request(op: Op, q: Req): Check.Result = q.kind match {
    case "select" =>
      val (quads, triples) = op.span("source")((Store.quads(spark, dir), Store.triples(spark, dir)))
      val df = op.span("construct")(SparqlEngine.select(quads, q.args(0), cap = true, defaultGraph = Some(triples)))
      rows(op, df, capped)
    case "scoped" =>
      val (quads, visible) = op.span("source")(
        (Store.quads(spark, dir), RdfTables.visibleGraphs(spark, dir, q.args(0))))
      val df = op.span("construct")(
        SparqlEngine.select(SparqlEngine.scoped(quads, visible), q.args(1), cap = true))
      rows(op, df, capped)
    case "ask" =>
      val (quads, triples) = op.span("source")((Store.quads(spark, dir), Store.triples(spark, dir)))
      val df = op.span("construct")(SparqlEngine.ask(quads, q.args(0), defaultGraph = Some(triples)))
      rows(op, df, plain)
    case "search" => search(op, q.args(0), q.args(1).toInt)
    case "list_v2" =>
      val objects = op.span("source")(ObjectTables.objects(spark, dir))
      val df = op.span("construct")(
        Listing.listObjectsV2(objects, q.args(0), q.args(1), Some("/"), opt(q.args(2))))
      rows(op, df, plain)
    case "list_versions" =>
      val objects = op.span("source")(ObjectTables.objects(spark, dir))
      val df = op.span("construct")(
        Listing.listVersions(objects, q.args(0), q.args(1), opt(q.args(2)), maxKeys = 100))
      rows(op, df, plain)
    case "backlinks" =>
      val (index, registry) = op.span("source")((Store.iriIndex(spark, dir), visibleRegistry(q.args(2))))
      val df = op.span("construct")(IriIndex.references(index, registry, q.args(0), q.args(1)))
      rows(op, df, plain)
  }

  /** BM25 → merge → page 1, then the watermark page 2, enriched. */
  private def search(op: Op, query: String, pageSize: Int): Check.Result = {
    val (postings, quads, registry) = op.span("source")(
      (Store.postings(spark, dir), Store.quads(spark, dir), RdfTables.registry(spark, dir)))
    val merged = op.span("construct") {
      val hits = Search.bm25(postings, query)
        .withColumn("document_id", regexp_extract(col("graph_iri"), "([0-9]+)$", 1))
        .withColumn("snippet", lit(null: String))
      Search.mergeHits(hits)
    }
    val page1 = op.span("construct")(Search.page(merged, None, pageSize))
    val first = op.span("exec")(page1.collect().toSeq)
    val second = first.lastOption.map { last =>
      val wm = Search.Watermark(last.getAs[Long]("score_key"), last.getAs[String]("graph_iri"),
        last.getAs[String]("subject_iri"))
      val page2 = op.span("construct")(
        Enrich.enrich(Search.page(merged, Some(wm), pageSize), quads, registry, query)
          .select("graph_iri", "subject_iri", "score_key", "title", "snippet"))
      op.span("exec")(page2.collect().toSeq)
    }.getOrElse(Nil)
    op.rows += first.size + second.size
    val keys = Seq("graph_iri", "subject_iri", "score_key")
    val rowsOut = first.map(r => Row.fromSeq(keys.map(r.getAs[Any]) ++ Seq("page1", null, null))) ++
      second.map(r => Row.fromSeq(keys.map(r.getAs[Any]) ++ Seq("page2", r.getAs[String]("title"),
        r.getAs[String]("snippet"))))
    Check.canonical(keys ++ Seq("page", "title", "snippet"), rowsOut)
  }

  /** A pipeline or maintenance gate, by name. */
  def gate(op: Op, name: String): Check.Result = {
    val df = op.span("construct")(gates(name)(spark, dir))
    rows(op, df, plain)
  }
}
