package graft.fts

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BM25 scoring + the reference's distributed-merge and watermark-pagination
  * contract (`operations/src/metadata/search_cursor.rs`):
  *
  *  - `score_key`: f32 score quantized to i64 micro-units,
  *    `(score as f64 * 1e6) as i64` (`search_cursor.rs:279-281`) — Rust `as`
  *    truncates toward zero, as does Spark's cast to long.
  *  - ordering (`compare_hits`, `:283-289`): score_key desc, graph_iri asc,
  *    subject_iri asc.
  *  - merge (`merge_search_hits`, `:243-272`): dedup by (graph, subject),
  *    keep max score_key with smaller document_id on ties, keep any
  *    non-null snippet.
  *  - pagination (`paginate`, `:298-380`): a page is the first `page_size`
  *    merged hits strictly *after* the watermark (score_key, graph, subject);
  *    page size default 25 / max 100, depth cap 1000 (`:13-15`).
  *
  * Scale: over the [[graft.Store.postings]] index, a query whose tokens'
  * postings number at most [[LocalScoreMaxPostings]] rows scores on the
  * driver. One bounded collect (a single `limit(bound + 1)` evaluation of
  * the token-filtered postings joined to the index's document lengths)
  * brings them over; the fields fold, each token's document frequency is
  * counted from those rows, and BM25 runs with the index's N and avgdl.
  * The hits come back as a local relation, and [[mergeHits]] and [[page]]
  * evaluate any local-relation input on the driver too, so a request's
  * ranking, merge and paging run no job past the one collect. Past the bound
  * the scoring stays a distributed token-filtered join: the index's
  * statistics (document lengths, per-token document frequencies, N, avgdl)
  * are the ones built with the index, as a tantivy segment keeps doc_freq
  * and fieldnorms beside its postings, so a query runs no corpus aggregate.
  * That index and its doc-length table are bucketed by `graph_iri`, so the
  * (token, graph, subject) fold, the doc-length join, the score aggregate
  * and the [[mergeHits]] window all run inside the scan's buckets with no
  * exchange, and the page is a TakeOrdered(1000+page) plan, never a full
  * sort. Any other postings frame (filtered, folded, in memory) is its own
  * corpus, derives its statistics per query and scores distributed.
  */
object Search {

  val K1 = 1.2
  val B = 0.75
  val DefaultPageSize = 25 // search_cursor.rs:13
  val MaxPageSize = 100 // search_cursor.rs:14
  val MaxPaginationDepth = 1000 // search_cursor.rs:15

  /** Query postings at or below this many rows score on the driver
    * ([[bm25]]), the bound of [[graft.sparql.PathCompiler.LocalClosureMaxEdges]]:
    * a few MB of strings, against the jobs of two distributed scoring plans.
    * A query of common tokens past it scores distributed. */
  val LocalScoreMaxPostings = 100000L

  def clampPageSize(n: Int): Int = math.min(math.max(n, 1), MaxPageSize)

  /** f32 score → deterministic i64 sort key (search_cursor.rs:279-281). */
  def scoreKey(score: Column): Column =
    (score.cast("double") * lit(1e6)).cast(LongType)

  def scoreKeyOf(score: Float): Long = (score.toDouble * 1e6).toLong

  /** The schema of [[bm25]]'s hits. */
  private val HitSchema = StructType(Seq(
    StructField("graph_iri", StringType), StructField("subject_iri", StringType),
    StructField("score", FloatType), StructField("score_key", LongType)))

  /** BM25 over postings for a free-text query. Returns one row per matched
    * (graph_iri, subject_iri) with `score` (f32) and `score_key`. Over the
    * Store index, up to `localMaxPostings` query postings score on the
    * driver (see the object Scaladoc); a negative bound always scores
    * distributed. */
  def bm25(postings: DataFrame, query: String,
      localMaxPostings: Long = LocalScoreMaxPostings): DataFrame = {
    val spark = postings.sparkSession
    val tokens = tokenize(query)
    if (tokens.isEmpty) return local(spark, HitSchema, Nil)
    graft.Store.corpusStats(postings) match {
      case Some(stats) =>
        if (stats.n == 0) local(spark, HitSchema, Nil)
        else scoreLocally(postings, stats, tokens, localMaxPostings)
          .getOrElse(scoreDistributed(postings, stats, tokens))
      case None =>
        // any other frame (filtered, folded, in-memory) is its own corpus
        val stats = Fts.CorpusStats.derive(postings)
        if (stats.n == 0) local(spark, HitSchema, Nil)
        else scoreDistributed(postings, stats, tokens)
    }
  }

  /** BM25 on the driver from one bounded collect of the query's postings
    * and their document lengths; None past `bound` rows. df is the number of
    * distinct graphs per token among those rows, which are all of the
    * token's postings, so it equals the index's `doc_freq`. The arithmetic
    * is [[scoreDistributed]]'s, expression by expression, with
    * `StrictMath.log` as Spark's `log`. */
  private def scoreLocally(postings: DataFrame, stats: Fts.CorpusStats,
      tokens: Seq[String], bound: Long): Option[DataFrame] =
    queryPostings(postings, stats, tokens, bound).map { rows =>
      val n = stats.n.toDouble
      // fold fields together: (token, graph, subject) -> (tf, dl)
      val folded = rows.toSeq.groupMapReduce(r => (r.getString(0), r.getString(1), r.getString(2)))(
        r => (r.getAs[Number](3).longValue, r.getAs[Number](4).longValue))((a, b) => (a._1 + b._1, a._2))
      val idf = docFreqsOf(rows).map { case (t, df) =>
        t -> StrictMath.log(1.0 + (n - df.toDouble + 0.5) / (df.toDouble + 0.5))
      }
      val hits = folded.toSeq.groupMapReduce { case ((_, g, s), _) => (g, s) } {
        case ((t, _, _), (tf0, dl)) =>
          val tf = tf0.toDouble
          idf(t) * ((tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl.toDouble / stats.avgdl)))
      }(_ + _)
      local(postings.sparkSession, HitSchema, hits.toSeq.map { case ((g, s), w) =>
        val score = w.toFloat
        Row(g, s, score, scoreKeyOf(score))
      })
    }

  /** The query tokens' postings joined to their document lengths, (token,
    * graph_iri, subject_iri, tf, dl), from one bounded collect; None past
    * `bound` rows. */
  private[fts] def queryPostings(postings: DataFrame, stats: Fts.CorpusStats,
      tokens: Seq[String], bound: Long): Option[Array[Row]] =
    collectAtMost(postings.filter(col("token").isin(tokens: _*))
      .join(stats.docLengths, "graph_iri")
      .select(col("token"), col("graph_iri"), col("subject_iri"), col("tf"), col("dl")), bound)

  /** Per token, the distinct graphs among [[queryPostings]]' rows. */
  private[fts] def docFreqsOf(rows: Seq[Row]): Map[String, Int] =
    rows.groupMapReduce(_.getString(0))(r => Set(r.getString(1)))(_ ++ _).map { case (t, gs) => t -> gs.size }

  /** BM25 as one distributed token-filtered join over the corpus statistics. */
  private def scoreDistributed(postings: DataFrame, stats: Fts.CorpusStats,
      tokens: Seq[String]): DataFrame = {
    val n = stats.n.toDouble
    val avgdl = stats.avgdl
    val matched = postings.filter(col("token").isin(tokens: _*))
      .groupBy(col("token"), col("graph_iri"), col("subject_iri"))
      .agg(sum(col("tf")).as("tf")) // fold fields together
    val dfreq = stats.docFreqs.filter(col("token").isin(tokens: _*))
    val idf = log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * (K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl))
    val weighted = matched
      .join(broadcast(dfreq), "token")
      .join(stats.docLengths, "graph_iri")
      .withColumn("w", idf * tfNorm)
    weighted
      .groupBy(col("graph_iri"), col("subject_iri"))
      .agg(sum(col("w")).cast(FloatType).as("score"))
      .withColumn("score_key", scoreKey(col("score")))
  }

  def tokenize(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq

  /** At most `bound` rows of `df`, from one `limit(bound + 1)` evaluation;
    * None when it has more. A local relation is read without a job; any
    * other plan runs as one single-task job: a limit at the root of a
    * collect over n partitions scans them in rounds of 1, 4, 16, … jobs. */
  private[fts] def collectAtMost(df: DataFrame, bound: Long): Option[Array[Row]] = {
    val n = math.min(bound + 1, Int.MaxValue.toLong).toInt
    val rows = localRows(df).getOrElse(df.coalesce(1).limit(n).collect())
    if (rows.length > bound) None else Some(rows)
  }

  /** A local relation of `rows`: its optimized plan is a `LocalRelation`. */
  private[fts] def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The rows of `df` when its optimized plan is a local relation (the
    * frames this object and [[Enrich]] return, and projections or filters
    * of them); collecting one runs no job. None for any other plan. */
  private def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect())
      case _ => None
    }

  /** Spark's ascending order with nulls first: strings compare as UTF-8
    * bytes (`UTF8String`), as Catalyst's ordering does. `-cmp` is Spark's
    * descending order with nulls last. */
  private[fts] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Lexicographic [[cmp]] over `keys`, each (column index, descending). */
  private def rowOrdering(keys: Seq[(Int, Boolean)]): Ordering[Row] = (x: Row, y: Row) =>
    keys.iterator.map { case (i, desc) =>
      val c = cmp(x.get(i), y.get(i))
      if (desc) -c else c
    }.find(_ != 0).getOrElse(0)

  /** compare_hits ordering (search_cursor.rs:283-289). */
  def hitOrder: Seq[Column] =
    Seq(col("score_key").desc, col("graph_iri").asc, col("subject_iri").asc)

  private def hitOrdering(schema: StructType): Ordering[Row] = rowOrdering(Seq(
    schema.fieldIndex("score_key") -> true, schema.fieldIndex("graph_iri") -> false,
    schema.fieldIndex("subject_iri") -> false))

  /** merge_search_hits (search_cursor.rs:243-272): dedup (graph, subject) —
    * max score_key, smaller document_id on ties, keep a non-null snippet.
    * A local-relation input merges on the driver into a local relation. */
  def mergeHits(hits: DataFrame): DataFrame = localRows(hits) match {
    case Some(rows) =>
      val schema = hits.schema
      val Seq(g, s, snippet) = Seq("graph_iri", "subject_iri", "snippet").map(schema.fieldIndex)
      val best = rowOrdering(Seq(schema.fieldIndex("score_key") -> true,
        schema.fieldIndex("document_id") -> false))
      local(hits.sparkSession, schema, rows.toSeq.groupBy(r => (r.get(g), r.get(s))).values.map { dups =>
        val ordered = dups.sorted(best)
        val kept = ordered.iterator.map(_.get(snippet)).find(_ != null).orNull
        Row.fromSeq(ordered.head.toSeq.updated(snippet, kept))
      }.toSeq)
    case None =>
      val part = Window.partitionBy(col("graph_iri"), col("subject_iri"))
      val byBest = part.orderBy(col("score_key").desc, col("document_id").asc)
      val anySnippet = first(col("snippet"), ignoreNulls = true)
        .over(part.orderBy(col("score_key").desc, col("document_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      hits
        .withColumn("__rn", row_number().over(byBest))
        .withColumn("__snippet", anySnippet)
        .filter(col("__rn") === 1)
        .withColumn("snippet", col("__snippet"))
        .drop("__rn", "__snippet")
  }

  final case class Watermark(scoreKey: Long, graphIri: String, subjectIri: String)

  /** hit_after_watermark (search_cursor.rs:399-406): strictly later in the
    * compare_hits order. */
  def afterWatermark(wm: Watermark): Column =
    (col("score_key") < wm.scoreKey) ||
      (col("score_key") === wm.scoreKey && col("graph_iri") > wm.graphIri) ||
      (col("score_key") === wm.scoreKey && col("graph_iri") === wm.graphIri &&
        col("subject_iri") > wm.subjectIri)

  /** [[afterWatermark]] on a driver row with the score key, graph and
    * subject at `k`, `g`, `s`; a comparison with a null is not true, as in
    * the filter. */
  private def isAfter(wm: Watermark, k: Int, g: Int, s: Int)(r: Row): Boolean = {
    def gt(i: Int, v: String) = !r.isNullAt(i) && v != null && cmp(r.get(i), v) > 0
    def eq(i: Int, v: String) = !r.isNullAt(i) && v != null && cmp(r.get(i), v) == 0
    !r.isNullAt(k) && (r.getLong(k) < wm.scoreKey || (r.getLong(k) == wm.scoreKey &&
      (gt(g, wm.graphIri) || (eq(g, wm.graphIri) && gt(s, wm.subjectIri)))))
  }

  /** One page of merged hits after the optional watermark. A local-relation
    * input pages on the driver into a local relation. */
  def page(merged: DataFrame, wm: Option[Watermark], pageSize: Int): DataFrame =
    localRows(merged) match {
      case Some(rows) =>
        val schema = merged.schema
        val Seq(k, g, s) = Seq("score_key", "graph_iri", "subject_iri").map(schema.fieldIndex)
        val kept = wm.fold(rows.toSeq)(w => rows.toSeq.filter(isAfter(w, k, g, s)))
        local(merged.sparkSession, schema, kept.sorted(hitOrdering(schema)).take(clampPageSize(pageSize)))
      case None =>
        val filtered = wm.map(w => merged.filter(afterWatermark(w))).getOrElse(merged)
        filtered.orderBy(hitOrder: _*).limit(clampPageSize(pageSize))
    }

  // ---------------------------------------------------------------------
  // cursor codec — reference signs cursors with ed25519 and verifies them
  // against realm nodes (`search_cursor.rs:62-133`). The authenticated
  // variant lives in [[SignedCursor]]; this unsigned codec keeps the query
  // fingerprint binding + depth cap for single-cluster pagination.
  // ---------------------------------------------------------------------

  final case class Cursor(fingerprint: String, wm: Watermark, depth: Int)

  /** query fingerprint binds (query, scope) — `search_cursor.rs:170`. */
  def fingerprint(query: String, scope: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // length-prefixed fields, as query_cache.rs:28-32
    def upd(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      md.update(java.nio.ByteBuffer.allocate(8).putLong(b.length.toLong).array())
      md.update(b)
    }
    upd(query); upd(scope)
    md.digest().map("%02x".format(_)).mkString
  }

  def encodeCursor(c: Cursor): String = {
    val raw = s"${c.fingerprint}|${c.wm.scoreKey}|${c.wm.graphIri}|${c.wm.subjectIri}|${c.depth}"
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(raw.getBytes("UTF-8"))
  }

  final class CursorException(msg: String) extends RuntimeException(msg)

  /** Decode + validate: fingerprint must match, depth capped (tamper and
    * depth tests at `search_cursor.rs:453-1000`). */
  def decodeCursor(encoded: String, expectedFingerprint: String,
      pageSize: Int): Cursor = {
    val raw = try new String(java.util.Base64.getUrlDecoder.decode(encoded), "UTF-8")
    catch { case _: IllegalArgumentException => throw new CursorException("malformed cursor") }
    raw.split("\\|", 5) match {
      case Array(fp, sk, g, s, d) =>
        if (fp != expectedFingerprint) throw new CursorException("cursor does not match query")
        val depth = try d.toInt catch { case _: NumberFormatException => throw new CursorException("malformed cursor") }
        if (depth < 0) throw new CursorException("malformed cursor") // negative depth = tampering
        if (depth + clampPageSize(pageSize) > MaxPaginationDepth)
          throw new CursorException(s"pagination depth exceeds $MaxPaginationDepth")
        val key = try sk.toLong catch { case _: NumberFormatException => throw new CursorException("malformed cursor") }
        Cursor(fp, Watermark(key, g, s), depth)
      case _ => throw new CursorException("malformed cursor")
    }
  }
}
