package graft.fts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

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
  * Scale: scoring is a token-filtered join — only postings of the query's
  * tokens are read (predicate pushdown on `token`). Over the
  * [[graft.Store.postings]] index the corpus statistics (document lengths,
  * per-token document frequencies, N, avgdl) are the ones built with the
  * index, as a tantivy segment keeps doc_freq and fieldnorms beside its
  * postings, so a query runs no corpus aggregate and no eager job. That
  * index and its doc-length table are bucketed by `graph_iri`, so the
  * (token, graph, subject) fold, the doc-length join, the score aggregate
  * and the [[mergeHits]] window all run inside the scan's buckets with no
  * exchange. Any other postings frame (filtered, folded, in memory) is its
  * own corpus and derives its statistics per query. The global order-by is
  * bounded by depth cap 1000, so a TakeOrdered(1000+page) plan, never a
  * full sort at scale.
  */
object Search {

  val K1 = 1.2
  val B = 0.75
  val DefaultPageSize = 25 // search_cursor.rs:13
  val MaxPageSize = 100 // search_cursor.rs:14
  val MaxPaginationDepth = 1000 // search_cursor.rs:15

  def clampPageSize(n: Int): Int = math.min(math.max(n, 1), MaxPageSize)

  /** f32 score → deterministic i64 sort key (search_cursor.rs:279-281). */
  def scoreKey(score: Column): Column =
    (score.cast("double") * lit(1e6)).cast(LongType)

  def scoreKeyOf(score: Float): Long = (score.toDouble * 1e6).toLong

  /** BM25 over postings for a free-text query. Returns one row per matched
    * (graph_iri, subject_iri) with `score` (f32) and `score_key`. */
  def bm25(postings: DataFrame, query: String): DataFrame = {
    val tokens = tokenize(query)
    def emptyResult = postings.sparkSession.emptyDataFrame
      .withColumn("graph_iri", lit(""))
      .withColumn("subject_iri", lit(""))
      .withColumn("score", lit(0f))
      .withColumn("score_key", lit(0L))
      .limit(0)
    if (tokens.isEmpty) return emptyResult
    // the index's own statistics when given the Store frame; any other
    // frame (filtered, folded, in-memory) is its own corpus
    val stats = graft.Store.corpusStats(postings).getOrElse(Fts.CorpusStats.derive(postings))
    if (stats.n == 0) return emptyResult
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

  /** compare_hits ordering (search_cursor.rs:283-289). */
  def hitOrder: Seq[Column] =
    Seq(col("score_key").desc, col("graph_iri").asc, col("subject_iri").asc)

  /** merge_search_hits (search_cursor.rs:243-272): dedup (graph, subject) —
    * max score_key, smaller document_id on ties, keep a non-null snippet. */
  def mergeHits(hits: DataFrame): DataFrame = {
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

  /** One page of merged hits after the optional watermark. */
  def page(merged: DataFrame, wm: Option[Watermark], pageSize: Int): DataFrame = {
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
