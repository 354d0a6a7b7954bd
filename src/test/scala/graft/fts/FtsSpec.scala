package graft.fts

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FtsSpec extends SparkSpec {
  import spark.implicits._

  test("score_key quantization truncates toward zero (search_cursor.rs:279-281)") {
    assert(Search.scoreKeyOf(1.2345678f) == 1234567L)
    assert(Search.scoreKeyOf(0.9999999f) == 999999L)
    assert(Search.scoreKeyOf(0f) == 0L)
    // two scores that collide after quantization → tie
    assert(Search.scoreKeyOf(2.0000001f) == Search.scoreKeyOf(2.0000004f))
  }

  private def hitsDf(rows: Seq[(String, String, Long, String, String)]) =
    rows.toDF("graph_iri", "subject_iri", "score_key", "document_id", "snippet")

  test("merge: dedup by (graph,subject), max score, doc-id tie-break, snippet coalesce") {
    val merged = Search.mergeHits(hitsDf(Seq(
      ("g1", "s1", 100L, "02", null), // same key, same score — tie
      ("g1", "s1", 100L, "01", "snip"), // smaller doc id wins
      ("g2", "s2", 150L, "03", null),
      ("g2", "s2", 200L, "04", null), // higher score wins
      ("g3", "s3", 50L, "05", "only")
    ))).select("graph_iri", "subject_iri", "score_key", "document_id", "snippet")
      .collect().map(_.toSeq).toSet
    assert(merged == Set(
      Seq("g1", "s1", 100L, "01", "snip"),
      Seq("g2", "s2", 200L, "04", null),
      Seq("g3", "s3", 50L, "05", "only")))
  }

  test("merge keeps a non-null snippet from a losing duplicate") {
    val merged = Search.mergeHits(hitsDf(Seq(
      ("g1", "s1", 300L, "01", null), // winner has no snippet
      ("g1", "s1", 100L, "09", "from-loser")
    ))).collect()
    assert(merged.length == 1)
    assert(merged(0).getAs[String]("snippet") == "from-loser")
    assert(merged(0).getAs[Long]("score_key") == 300L)
  }

  test("pagination: watermark pages are disjoint, ordered, cover the prefix") {
    val all = (1 to 10).map(i =>
      (s"g$i", s"s$i", (1000 - i * 7).toLong, s"0$i", null: String))
    val df = hitsDf(all)
    val fullOrder = df.orderBy(Search.hitOrder: _*)
      .select("graph_iri", "subject_iri", "score_key").collect().map(_.toSeq).toSeq
    var wm: Option[Search.Watermark] = None
    var seen = Seq.empty[Seq[Any]]
    for (_ <- 1 to 4) {
      val page = Search.page(df, wm, 3)
        .select("graph_iri", "subject_iri", "score_key").collect().map(_.toSeq).toSeq
      if (page.nonEmpty) {
        val last = page.last
        wm = Some(Search.Watermark(last(2).asInstanceOf[Long],
          last(0).asInstanceOf[String], last(1).asInstanceOf[String]))
      }
      assert(seen.intersect(page).isEmpty, "pages must be disjoint")
      seen ++= page
    }
    assert(seen == fullOrder, "concatenated pages = full ordering")
    // saturated: watermark past the end yields an empty page
    val lastAll = fullOrder.last
    val beyond = Search.Watermark(lastAll(2).asInstanceOf[Long],
      lastAll(0).asInstanceOf[String], lastAll(1).asInstanceOf[String])
    assert(Search.page(df, Some(beyond), 3).count() == 0)
  }

  test("quantized-score ties order by (graph, subject) asc") {
    val df = hitsDf(Seq(
      ("gB", "s1", 100L, "01", null),
      ("gA", "s2", 100L, "02", null),
      ("gA", "s1", 100L, "03", null)))
    val order = Search.page(df, None, 10)
      .select("graph_iri", "subject_iri").collect().map(_.toSeq).toSeq
    assert(order == Seq(Seq("gA", "s1"), Seq("gA", "s2"), Seq("gB", "s1")))
  }

  test("cursor: roundtrip, tamper rejection, depth cap (search_cursor.rs tests)") {
    val fp = Search.fingerprint("spark merge", "scope-1")
    val c = Search.Cursor(fp, Search.Watermark(123L, "g1", "s1"), 25)
    val enc = Search.encodeCursor(c)
    assert(Search.decodeCursor(enc, fp, 25) == c)
    // different query → different fingerprint → rejected
    val fp2 = Search.fingerprint("spark merge", "scope-2")
    intercept[Search.CursorException](Search.decodeCursor(enc, fp2, 25))
    // depth cap 1000
    val deep = Search.encodeCursor(Search.Cursor(fp, Search.Watermark(1L, "g", "s"), 990))
    intercept[Search.CursorException](Search.decodeCursor(deep, fp, 25))
    // malformed
    intercept[Search.CursorException](Search.decodeCursor("!!notbase64!!", fp, 25))
    // fingerprint binds query+scope with length prefixes (no concat ambiguity)
    assert(Search.fingerprint("ab", "c") != Search.fingerprint("a", "bc"))
  }

  private lazy val corpus = Seq(
    ("g1", "d1", "name", "spark spark engine"),
    ("g2", "d2", "name", "spark notes"),
    ("g3", "d3", "name", "cooking recipes"),
    ("g4", "d4", "name", "rare spark zebra")
  ).toDF("graph_iri", "subject", "field", "text")
    .select(col("graph_iri"), col("subject"), col("field"),
      explode(Fts.tokensOf(col("text"))).as("token"))
    .groupBy("token", "graph_iri", "subject", "field")
    .agg(count(lit(1)).cast("int").as("tf"))
    .withColumnRenamed("subject", "subject_iri")

  test("bm25: higher tf ranks higher; rare token outranks common") {
    val r = Search.bm25(corpus, "spark").orderBy(Search.hitOrder: _*).collect()
    assert(r.map(_.getString(0)).take(1).head == "g1") // tf=2 beats tf=1
    val rz = Search.bm25(corpus, "zebra").collect()
    val rs = Search.bm25(corpus, "spark").filter($"graph_iri" === "g2").collect()
    assert(rz.head.getFloat(2) > rs.head.getFloat(2), "rare token idf > common token idf")
  }

  test("bm25 empty query / empty index → schema-stable empty through full pipeline") {
    val empty = Search.bm25(corpus, "  ---  ")
    assert(empty.isEmpty)
    // downstream consumers (merge → page) must work on the empty frame
    val hits = empty.withColumn("document_id", lit("x"))
      .withColumn("snippet", lit(null: String))
    assert(Search.page(Search.mergeHits(hits), None, 25).count() == 0)
    // empty postings index: no NPE, empty result
    assert(Search.bm25(corpus.limit(0), "spark").isEmpty)
  }

  private lazy val enrichQuads = Seq(
    ("g1", "doc:1", 0, "http://schema.org/name", 2, "Title One", "", ""),
    ("g1", "http://x/path/seg42", 0, "http://schema.org/description", 2,
      "aaa " * 30 + "needle in the middle " + "bbb " * 30, "", ""),
    ("g1", "nameless:", 0, "http://schema.org/description", 2, "no name here", "", "")
  ).toDF("graph_iri", "subject", "subject_kind", "predicate", "obj_kind",
    "obj_value", "obj_lang", "obj_datatype")
  private lazy val enrichRegistry = Seq(("g1", "/docs/path-1")).toDF("graph_iri", "document_path")

  test("enrichment: title precedence and snippet windowing") {
    val quads = enrichQuads
    val registry = enrichRegistry
    val titled = hitsDf(Seq("doc:1", "http://x/path/seg42", "nameless:").zipWithIndex
      .map { case (s, i) => ("g1", s, 10L - i, s"0$i", null: String) })
    val titles = Enrich.enrich(titled, quads, registry, "needle").collect()
      .map(r => r.getAs[String]("subject_iri") -> r.getAs[String]("title")).toMap
    assert(titles("doc:1") == "Title One")
    assert(titles("http://x/path/seg42") == "seg42") // last path segment
    assert(titles("nameless:") == "/docs/path-1") // document-path fallback
    val hits = Seq(("g1", "http://x/path/seg42", 10L, "01", null: String))
      .toDF("graph_iri", "subject_iri", "score_key", "document_id", "snippet")
    val enriched = Enrich.enrich(hits, quads, registry, "needle").collect().head
    val snip = enriched.getAs[String]("snippet")
    assert(snip.contains("needle"))
    assert(snip.length <= Enrich.SnippetMaxLen)
  }

  test("enrichment takes a hit page of MaxHitPage rows and refuses one row more") {
    def page(n: Int) = hitsDf((0 until n).map(i => ("g1", s"doc:$i", i.toLong, "01", null: String)))
    assert(Enrich.enrich(page(0), enrichQuads, enrichRegistry, "title").count() == 0)
    val atBound = Enrich.enrich(page(Enrich.MaxHitPage), enrichQuads, enrichRegistry, "title")
    assert(atBound.count() == Enrich.MaxHitPage)
    assert(atBound.filter($"subject_iri" === "doc:1").head().getAs[String]("title") == "Title One")
    val e = intercept[Enrich.HitPageTooLarge](
      Enrich.enrich(page(Enrich.MaxHitPage + 1), enrichQuads, enrichRegistry, "title"))
    assert(e.limit == Enrich.MaxHitPage)
  }

  private def scored(df: org.apache.spark.sql.DataFrame) =
    df.select("graph_iri", "subject_iri", "score_key").collect().map(_.toSeq).toSet

  private def inMemory(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  test("bm25: statistics maintained with the Store index ≡ statistics derived from the same rows") {
    val index = graft.Store.postings(spark, sf0001)
    assert(graft.Store.corpusStats(index).isDefined)
    val rebuilt = inMemory(index)
    assert(graft.Store.corpusStats(rebuilt).isEmpty)
    for (q <- Seq("spark merge fast", "author window", "zzqqxx", "  ")) {
      val maintained = scored(Search.bm25(index, q))
      assert(maintained == scored(Search.bm25(rebuilt, q)), s"query '$q'")
      if (q == "spark merge fast") assert(maintained.nonEmpty)
      if (q.trim.isEmpty || q == "zzqqxx") assert(maintained.isEmpty, s"query '$q'")
    }
  }

  test("bm25: a filtered Store index frame is its own corpus (derived statistics)") {
    val index = graft.Store.postings(spark, sf0001)
    val half = index.filter(length($"graph_iri") % 2 === 0)
    assert(graft.Store.corpusStats(half).isEmpty)
    val q = "spark merge fast"
    val got = scored(Search.bm25(half, q))
    assert(got.nonEmpty)
    assert(got == scored(Search.bm25(inMemory(half), q)))
    // the maintained N and avgdl would score the same hits differently
    val full = scored(Search.bm25(index, q)).filter(r => got.exists(g => g.take(2) == r.take(2)))
    assert(full != got)
  }
}
