package graft.fts

import graft.sparql.{Kind, RdfTables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text-search index build (SURVEY §2 M3, reference §3.2).
  *
  * The reference indexes the literal fields its snippet enrichment reads
  * (`search_enrichment.rs:44-49`): schema:name / description / keywords /
  * identifier. We build a postings DataFrame from exactly those quads:
  * `postings(token, graph_iri, subject_iri, field, tf)`.
  *
  * Tokenization: lowercase maximal `[a-z0-9]+` runs — deterministic and
  * reproducible in DuckDB (`string_split_regex`) for the oracle.
  *
  * Scale: postings are a single explode+groupBy over the indexed literals —
  * the shuffle is on (token, graph, subject), the natural key. At 100 TB the
  * postings table is the materialized projection the streaming pipeline
  * (M5) maintains incrementally; queries only touch the tokens they search.
  */
object Fts {

  val IndexedFields: Map[String, String] = Map(
    RdfTables.SchemaNs + "name" -> "name",
    RdfTables.SchemaNs + "description" -> "description",
    RdfTables.SchemaNs + "keywords" -> "keywords",
    RdfTables.SchemaNs + "identifier" -> "identifier")

  /** Native tokenizer kernel — ≡ the composed
    * `filter(split(lower(c), "[^a-z0-9]+"), len > 0)` every oracle
    * replicates (fuzz-pinned in AsciiTokensSpec); one lowercase + one byte
    * walk instead of a regex engine pass per row. */
  def tokensOf(c: Column): Column = graft.functions.AsciiTokens(c)

  /** postings(token, graph_iri, subject_iri, field, tf) */
  def postings(quads: DataFrame): DataFrame = {
    val fieldCol = IndexedFields.foldLeft(lit(null: String)) {
      case (acc, (iri, name)) => when(col("predicate") === iri, lit(name)).otherwise(acc)
    }
    quads
      .filter(col("obj_kind") === Kind.Literal &&
        col("predicate").isin(IndexedFields.keys.toSeq: _*))
      .select(col("graph_iri"), col("subject").as("subject_iri"),
        fieldCol.as("field"), explode(tokensOf(col("obj_value"))).as("token"))
      .groupBy(col("token"), col("graph_iri"), col("subject_iri"), col("field"))
      .agg(count(lit(1)).cast("int").as("tf"))
  }

  /** Per-token document frequency (documents = named graphs). */
  def docFrequencies(postings: DataFrame): DataFrame =
    postings.groupBy(col("token"))
      .agg(countDistinct(col("graph_iri")).as("df"))

  /** Per-document length (total tokens across indexed fields). */
  def docLengths(postings: DataFrame): DataFrame =
    postings.groupBy(col("graph_iri"))
      .agg(sum(col("tf")).as("dl"))

  /** What BM25 needs of a corpus besides the query's postings:
    * `docLengths(graph_iri, dl)`, `docFreqs(token, df)`, the document count
    * `n` and the mean length `avgdl` (0 on an empty corpus). */
  final case class CorpusStats(docLengths: DataFrame, docFreqs: DataFrame,
      n: Long, avgdl: Double)

  object CorpusStats {
    /** Stats over given length and frequency tables; `n` and `avgdl` are
      * one eager aggregate over the length table. */
    def of(docLengths: DataFrame, docFreqs: DataFrame): CorpusStats = {
      val t = docLengths.agg(count(lit(1)), avg(col("dl"))).head()
      CorpusStats(docLengths, docFreqs, t.getLong(0), if (t.isNullAt(1)) 0.0 else t.getDouble(1))
    }

    /** Stats derived from any postings frame. */
    def derive(postings: DataFrame): CorpusStats =
      of(docLengths(postings), docFrequencies(postings))
  }

  /** DuckDB CTE equivalent of [[postings]] over `documents` (uses the quads
    * derivation from [[RdfTables]]): reference as `postings`. */
  val postingsCte: String = postingsCteFrom("documents")

  /** [[postingsCte]] over any documents-shaped relation (the ev15
    * incremental-projection oracle rebuilds postings from a mutated
    * `docs2`). */
  def postingsCteFrom(table: String): String = {
    def fieldSel(fieldName: String, subjExpr: String, valueExpr: String,
        where: String = ""): String =
      s"""SELECT t.token, d.graph_iri, d.subject_iri, '$fieldName' AS field, COUNT(*)::INT AS tf
         |FROM (SELECT doc_id, 'graph:'||doc_id AS graph_iri, $subjExpr AS subject_iri,
         |             $valueExpr AS v FROM $table${if (where.nonEmpty) " WHERE " + where else ""}) d,
         |     LATERAL (SELECT UNNEST(string_split_regex(lower(d.v), '[^a-z0-9]+')) AS token) t
         |WHERE t.token <> ''
         |GROUP BY 1, 2, 3""".stripMargin
    val doc = "'doc:'||doc_id"
    Seq(
      fieldSel("name", doc, "source||'-doc-'||doc_id"),
      fieldSel("name", "'person:'||(doc_id%20)", "'author-'||(doc_id%20)"),
      fieldSel("description", doc, "text"),
      fieldSel("keywords", doc, "'kw-'||(doc_id%7)", "doc_id%5=0"),
      fieldSel("identifier", doc, "CAST(doc_id AS VARCHAR)"))
      .mkString("postings AS (\n", "\nUNION ALL ", "\n)")
  }
}
