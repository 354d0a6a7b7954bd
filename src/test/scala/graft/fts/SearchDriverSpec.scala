package graft.fts

import graft.{SparkSpec, Store}
import graft.sparql.{RdfTables, SparqlEngine}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The driver path of [[Search]] (scoring, merge, paging) against the
  * distributed plans it replaces below its bound, and the job and compile
  * counts of a warm search request and a warm ASK. */
class SearchDriverSpec extends SparkSpec {
  import spark.implicits._

  private lazy val index = Store.postings(spark, sf0001)
  private lazy val stats = Store.corpusStats(index).get

  private def isLocal(df: DataFrame) = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The same rows under a plan that is not a local relation, so merge and
    * page take their distributed plans. */
  private def distributed(df: DataFrame) = df.repartition(2)

  private def rowsOf(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq

  private val scoreCols = Seq("graph_iri", "subject_iri", "score", "score_key")
  private val pageCols = Seq("graph_iri", "subject_iri", "score_key", "document_id", "snippet")

  private def hitsOf(scored: DataFrame) = scored
    .withColumn("document_id", regexp_extract(col("graph_iri"), "([0-9]+)$", 1))
    .withColumn("snippet", lit(null: String))

  private def watermarkOf(r: Seq[Any]) =
    Search.Watermark(r(2).asInstanceOf[Long], r(0).asInstanceOf[String], r(1).asInstanceOf[String])

  test("bm25 on the driver ≡ the distributed plan, for matches, no match and an empty query") {
    for (q <- Seq("spark merge fast", "author window", "spark", "zzqqxx", "  ---  ")) {
      val local = Search.bm25(index, q)
      val forced = Search.bm25(index, q, localMaxPostings = -1)
      assert(isLocal(local), q)
      assert(local.schema == forced.schema, q)
      assert(rowsOf(local, scoreCols: _*).toSet == rowsOf(forced, scoreCols: _*).toSet, q)
      if (q.startsWith("spark")) assert(local.count() > 0, q)
    }
  }

  test("the driver's document frequencies are the index's doc_freq for the query tokens") {
    val tokens = Search.tokenize("spark merge fast author zzqqxx")
    val rows = Search.queryPostings(index, stats, tokens, Search.LocalScoreMaxPostings).get
    val indexed = stats.docFreqs.filter(col("token").isin(tokens: _*)).collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).intValue).toMap
    assert(indexed.size == 4)
    assert(Search.docFreqsOf(rows.toSeq) == indexed)
  }

  test("past the bound (bound + 1 query postings) bm25 falls back to the distributed plan") {
    val q = "spark merge fast"
    val n = Search.queryPostings(index, stats, Search.tokenize(q), Search.LocalScoreMaxPostings).get.length
    val atBound = Search.bm25(index, q, localMaxPostings = n)
    val past = Search.bm25(index, q, localMaxPostings = n - 1)
    assert(isLocal(atBound))
    assert(!isLocal(past))
    assert(rowsOf(atBound, scoreCols: _*).toSet == rowsOf(past, scoreCols: _*).toSet)
  }

  test("merge and watermark pages on the driver ≡ distributed, with score_key and graph ties") {
    val hits = Seq(
      ("gA", "s1", 100L, "02", null), ("gA", "s1", 100L, "01", "snip"), // merge tie: smaller doc id
      ("gA", "s2", 100L, "03", null), ("gB", "s1", 100L, "04", null), // score_key ties
      ("gB", "s0", 100L, "05", null), ("gA", "s0", 90L, "06", null),
      ("gC", "s1", 90L, "07", "kept"), ("gC", "s1", 95L, "08", null), // higher score wins, snippet kept
      ("gA", "s3", 80L, "09", null), ("gD", "s1", 70L, "10", null)
    ).toDF(pageCols: _*)
    val merged = Search.mergeHits(hits)
    val mergedDist = Search.mergeHits(distributed(hits))
    assert(isLocal(merged) && !isLocal(mergedDist))
    assert(rowsOf(merged, pageCols: _*).toSet == rowsOf(mergedDist, pageCols: _*).toSet)
    assert(merged.count() == 8)
    // pages of 4 over 8 merged hits: page 2 is exactly full, page 3 empty
    var wm: Option[Search.Watermark] = None
    for (i <- 1 to 3) {
      val page = rowsOf(Search.page(merged, wm, 4), pageCols: _*)
      assert(page == rowsOf(Search.page(distributed(mergedDist), wm, 4), pageCols: _*), s"page $i")
      assert(page.size == (if (i < 3) 4 else 0), s"page $i")
      wm = page.lastOption.map(watermarkOf)
    }
  }

  test("search pages 1 and 2 on the driver ≡ the distributed plans") {
    for (q <- Seq("spark merge fast", "author window")) {
      val local = Search.mergeHits(hitsOf(Search.bm25(index, q)))
      val forced = Search.mergeHits(hitsOf(Search.bm25(index, q, localMaxPostings = -1)))
      assert(isLocal(local) && !isLocal(forced))
      val p1 = rowsOf(Search.page(local, None, 10), pageCols: _*)
      assert(p1.size == 10, q)
      assert(p1 == rowsOf(Search.page(forced, None, 10), pageCols: _*), q)
      val wm = Some(watermarkOf(p1.last))
      val p2 = Search.page(local, wm, 10)
      assert(rowsOf(p2, pageCols: _*) == rowsOf(Search.page(forced, wm, 10), pageCols: _*), q)
      // enrichment of the local page ≡ enrichment of the same page distributed
      val quads = Store.quads(spark, sf0001)
      val registry = RdfTables.registry(spark, sf0001)
      val enriched = Enrich.enrich(p2, quads, registry, q)
      assert(isLocal(enriched))
      assert(enriched.collect().toSet == Enrich.enrich(distributed(p2), quads, registry, q).collect().toSet)
    }
  }

  /** Counts the jobs started in one job group; [[drain]] waits until the
    * listener has seen every event posted before a marker job ends. */
  private final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    private val marker = s"$group-drain"
    private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val drained = new java.util.concurrent.CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
        case Some(`group`) => jobs += 1
        case Some(`marker`) => markerJobs.add(e.jobId)
        case _ =>
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(e.jobId)) drained.countDown()
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(marker, "drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
  }

  /** The jobs and generated-code compiles of the third of three identical
    * calls of `run`, and its result. */
  private def thirdCall[T](run: () => T): (T, Int, Long) = {
    val warm = { run(); run() }
    val group = s"search-driver-jobs-${System.nanoTime()}"
    val counter = new JobCounter(group)
    spark.sparkContext.addSparkListener(counter)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      val third = try run() finally spark.sparkContext.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      counter.drain()
      assert(third == warm)
      (third, counter.jobs, compiles)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** One search request as a service sends it: page 1, then the enriched
    * watermark page 2 (the perfbench `search` template). */
  private def searchRequest(q: String): Seq[Row] = {
    val (postings, quads, registry) =
      (Store.postings(spark, sf0001), Store.quads(spark, sf0001), RdfTables.registry(spark, sf0001))
    val merged = Search.mergeHits(hitsOf(Search.bm25(postings, q)))
    val first = Search.page(merged, None, 25).collect().toSeq
    val second = first.lastOption.map { last =>
      val wm = Search.Watermark(last.getAs[Long]("score_key"), last.getAs[String]("graph_iri"),
        last.getAs[String]("subject_iri"))
      Enrich.enrich(Search.page(merged, Some(wm), 25), quads, registry, q)
        .select("graph_iri", "subject_iri", "score_key", "title", "snippet").collect().toSeq
    }.getOrElse(Nil)
    graft.Caches.release()
    first ++ second
  }

  test("a warm identical search request runs at most 5 jobs and compiles nothing") {
    val (rows, jobs, compiles) = thirdCall(() => searchRequest("spark merge fast"))
    info(s"$jobs jobs, $compiles compiles, ${rows.size} rows")
    assert(rows.size == 50)
    assert(jobs <= 5, s"$jobs jobs")
    assert(compiles == 0, s"$compiles compiles")
  }

  test("a warm identical ASK compiles nothing") {
    def ask(q: String) = () => SparqlEngine.ask(Store.quads(spark, sf0001), q,
      defaultGraph = Some(Store.triples(spark, sf0001))).collect().toSeq
    val (yes, _, compiles) = thirdCall(ask("ASK { ?s <http://schema.org/name> ?o }"))
    assert(yes == Seq(Row(true)))
    assert(compiles == 0, s"$compiles compiles")
    assert(thirdCall(ask("ASK { <nope:1> ?p ?o }"))._1 == Seq(Row(false)))
  }
}
