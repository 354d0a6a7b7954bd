package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicInteger

import graft.fts.Fts
import graft.sparql.{Materialize, RdfTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Once-per-session materialized physical layouts for the derived RDF/FTS
  * tables. The reference never re-derives its store per query — queries hit
  * the persistent LSM tables and the tantivy index that ingest maintains
  * (`handle.rs` reads the store; the index is updated on write, SURVEY §3.2).
  * This object is the Spark analog: on first access each table is written
  * once to parquet in its scale layout and every subsequent query plans
  * against that file scan (pushdown + row-group skipping), instead of
  * re-running the derivation and re-shuffling per query.
  *
  * At 100 TB these are real tables maintained incrementally by the ingest
  * pipeline (M5); here they materialize lazily into a per-JVM temp dir.
  *
  * Layouts:
  *  - `quads`: partitioned by `graph_bucket` ([[Materialize]]) — GRAPH-constant
  *    and visibility-scoped scans prune partition directories.
  *  - `triples`: the pre-deduped default graph (set union of all graphs,
  *    `handle.rs:4999-5008`), clustered by predicate (classic RDF vertical
  *    partitioning) — predicate-constant pattern scans skip row groups, and
  *    scans need NO per-pattern dropDuplicates shuffle.
  *  - `postings`: the FTS index, bucketed by `graph_iri` and sorted by
  *    `token` within each bucket — a query's token filter prunes row groups
  *    via parquet min/max stats instead of re-tokenizing the corpus, and the
  *    per-document BM25 work runs inside the buckets with no exchange. Built
  *    with it: the doc-length table `(graph_iri, dl)`, bucketed the same
  *    way, the per-token `(token, df)` table, and N and avgdl
  *    ([[corpusStats]]).
  *  - `triplesBucketed`/`bucketedRel`: catalog tables bucketed by a join
  *    key, so joins on that key run with no exchange.
  *
  * Every layout is built once per (session, dir, name): concurrent first
  * callers share one build (`singleFlight`).
  */
object Store {

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft-store-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p.toFile)))
    p
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
    ()
  }

  /** One build per key: the first caller runs it, every concurrent caller
    * waits for that build and gets the same value. A failed build is
    * removed, so a later call tries again.
    *
    * NOT computeIfAbsent: a table's build may itself materialize another
    * table (cat5/cat6's IRI index builds over the quads store), and a
    * nested computeIfAbsent on the same ConcurrentHashMap throws
    * "Recursive update" whenever the two keys land in one hash bin. The
    * map only holds futures; no lock is held while a build runs, so nested
    * builds of different keys proceed. */
  private val builds = new ConcurrentHashMap[String, CompletableFuture[AnyRef]]()

  private def singleFlight[T <: AnyRef](key: String)(build: => T): T = {
    val mine = new CompletableFuture[AnyRef]()
    val running = builds.putIfAbsent(key, mine)
    if (running != null)
      try running.join().asInstanceOf[T]
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    else
      try {
        val built = build
        mine.complete(built)
        built
      } catch {
        case e: Throwable =>
          builds.remove(key, mine)
          mine.completeExceptionally(e)
          throw e
      }
  }

  /** Build-once-per-(session, dir) table: `write` materializes to the given
    * path; the returned frame is a plain parquet scan of it. */
  private def cached(spark: SparkSession, dir: String, name: String)(
      write: String => Unit): DataFrame = {
    val key = s"${System.identityHashCode(spark)}:$dir:$name"
    singleFlight(key) {
      val path = root.resolve(s"${Integer.toHexString(key.hashCode)}-$name").toString
      write(path)
      spark.read.parquet(path)
    }
  }

  private val tableIds = new AtomicInteger()

  /** Build-once catalog table: `save` gets a fresh table name and a path
    * under the store root and must `saveAsTable` there, so bucketing
    * metadata lives in the session catalog. Returns the table name. */
  private def savedTable(key: String, prefix: String)(
      save: (String, String) => Unit): String =
    singleFlight(key) {
      val n = s"${prefix}_${tableIds.getAndIncrement()}_${Integer.toHexString(key.hashCode & 0x7fffffff)}"
      save(n, root.resolve(s"bucketed-$n").toString)
      n
    }

  /** Public build-once-per-(session, dir) hook for gate-local materialized
    * layouts whose input relation lives with the gate (e.g. the planted
    * dedup corpus): `write` receives a fresh path under the store root and
    * must leave a parquet table there; later calls with the same name
    * return the existing scan. */
  def materialized(spark: SparkSession, dir: String, name: String)(
      write: String => Unit): DataFrame =
    cached(spark, dir, name)(write)

  /** Graph-bucketed quads (the [[Materialize]] layout). */
  def quads(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "quads") { p =>
      Materialize.writeQuads(RdfTables.quads(spark, dir), p)
    }

  /** Pre-deduped default-graph triples (no graph column), clustered by
    * predicate. Valid only for unscoped queries — a visibility-scoped default
    * graph must dedup AFTER restricting to the visible graphs. */
  def triples(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "triples") { p =>
      RdfTables.quads(spark, dir)
        .drop("graph_iri")
        .distinct()
        .repartition(col("predicate"))
        .sortWithinPartitions("predicate", "subject")
        .write.mode("overwrite").parquet(p)
    }

  /** A relational table bucketed (and sorted) by a join key — the SMB
    * (sort-merge-bucket) layout: two tables bucketed the same way join
    * with ZERO exchanges and no sort, which at 100 TB removes the entire
    * fact-fact shuffle (the dominant cost of an orders⋈lineitem-shaped
    * join). */
  def bucketedRel(spark: SparkSession, dir: String, table: String,
      key: String, buckets: Int = 16): DataFrame = {
    val k = s"${System.identityHashCode(spark)}:$dir:rel:$table:$key:$buckets"
    spark.table(savedTable(k, s"graft_rel_$table") { (n, path) =>
      Tables.read(spark, dir, table)
        .write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", path)
        .saveAsTable(n)
    })
  }

  /** Predicate-partitioned, subject-bucketed default-graph triples: the BGP
    * layout. Every triple-pattern scan filters by predicate — a partition
    * DIRECTORY here, so each pattern reads exactly its predicate's files
    * (RDF vertical partitioning) — and joins on `subject`, which all
    * pattern scans share as the bucket key, so Catalyst plans the whole
    * n-pattern star chain with ZERO exchanges (bucket-local sort-merge
    * joins). At 100 TB the per-pattern shuffle of the triple store IS the
    * BGP cost; this layout removes it, mirroring the reference's
    * subject-major LSM key order. */
  def triplesBucketed(spark: SparkSession, dir: String, buckets: Int = 32): DataFrame = {
    // exact (session, dir, buckets) key → table name: a dir-hash-derived
    // name alone would silently serve the wrong dataset on a hash
    // collision, or the old bucketing on a buckets change
    val key = s"${System.identityHashCode(spark)}:$dir:triples_sub:$buckets"
    spark.table(savedTable(key, "graft_triples_sub") { (n, path) =>
      RdfTables.quads(spark, dir)
        .drop("graph_iri")
        .distinct()
        .write.mode("overwrite")
        .partitionBy("predicate")
        .bucketBy(buckets, "subject").sortBy("subject")
        .option("path", path)
        .saveAsTable(n)
    })
  }

  /** Bucket count of the postings and doc-length tables: both are bucketed
    * by `graph_iri` the same way, so a search joins them bucket to bucket. */
  private val PostingsBuckets = 8

  /** Frames [[postings]] returned → the statistics built with them. Keyed by
    * frame identity: a frame derived from the index (filtered, folded) is a
    * different corpus and gets no entry. */
  private val postingsStats =
    java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[DataFrame, Fts.CorpusStats]())

  /** FTS postings index, bucketed by `graph_iri` and sorted by `token`
    * within each bucket, built once per (session, dir) together with its
    * BM25 statistics (see [[corpusStats]]). Every call returns the same
    * frame. */
  def postings(spark: SparkSession, dir: String): DataFrame = {
    val key = s"${System.identityHashCode(spark)}:$dir:postings"
    singleFlight(key) {
      def bucketed(df: DataFrame, sortCol: String, prefix: String): DataFrame =
        spark.table(savedTable(s"$key:$prefix", prefix) { (n, path) =>
          df.repartition(PostingsBuckets, col("graph_iri"))
            .write.mode("overwrite")
            .bucketBy(PostingsBuckets, "graph_iri").sortBy(sortCol)
            .option("path", path)
            .saveAsTable(n)
        })
      val postings = bucketed(Fts.postings(RdfTables.quads(spark, dir)), "token", "graft_postings")
      val lengths = bucketed(Fts.docLengths(postings), "graph_iri", "graft_doclen")
      val freqs = cached(spark, dir, "doc_freq") { p =>
        Fts.docFrequencies(postings)
          .repartition(col("token"))
          .sortWithinPartitions("token")
          .write.mode("overwrite").parquet(p)
      }
      postingsStats.put(postings, Fts.CorpusStats.of(lengths, freqs))
      postings
    }
  }

  /** The BM25 statistics maintained with the index, when `postings` is the
    * frame [[postings]] returned; None for any other frame. */
  def corpusStats(postings: DataFrame): Option[Fts.CorpusStats] =
    Option(postingsStats.get(postings))

  /** Cell-partitioned IVF ANN index over the embeddings table (the
    * [[graft.similarity.Ann.writeIvfIndex]] layout: one parquet directory
    * per codebook cell). Built once per (session, dir); every
    * [[graft.similarity.Ann.topKCosineIvfIndexed]] probe then reads ONLY its
    * nprobe cells' directories (partition pruning, plan-asserted in
    * PipelineSpec). This is the vector-index analog of [[postings]]/
    * [[iriIndex]]: at 100 TB a deployment maintains the assignment on
    * ingest (the map-side ivfAssignments stage feeding partitionBy) and
    * serves every similarity query from the index — it never re-assigns
    * the corpus per query. */
  def ivfIndex(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "ivf_index") { p =>
      graft.similarity.Ann.writeIvfIndex(Tables.embeddings(spark, dir), p)
    }

  /** Materialized PQ code table: (vec_id, code_0..code_{m-1}, pq_code) —
    * the ADC rung of index-once-serve-many. Codes are m small ints per
    * vector (the 64-dim vector never ships); every
    * [[graft.similarity.Ann.topKAdcIndexed]] probe scans only this narrow
    * table, while codebook + query resolve as point reads on the
    * embeddings table. */
  def pqIndex(spark: SparkSession, dir: String, m: Int = 4,
      kCodes: Int = 16): DataFrame =
    cached(spark, dir, s"pq_index_${m}_$kCodes") { p =>
      graft.similarity.Ann.pqEncode(Tables.embeddings(spark, dir), m, kCodes)
        .select((col("vec_id") +: (0 until m).map(j => col(s"code_$j"))) :+
          col("pq_code"): _*)
        .write.mode("overwrite").parquet(p)
    }

  /** [[ivfIndex]] maintained INCREMENTALLY: the index is first built from
    * the stable slice of the embeddings table, then the held-out batch
    * (`vec_id >= nCells && vec_id % batchMod == batchRem` — the codebook
    * rows always stay in the base) is appended under the frozen codebook
    * via [[graft.similarity.Ann.appendIvfIndex]]. Because assignment is a
    * pure per-row function of (vector, codebook), the maintained layout
    * serves probes bit-identically to a full rebuild — the ann10 gate's
    * oracle is exactly the full-corpus formulation. */
  def ivfIndexIncr(spark: SparkSession, dir: String, batchMod: Int,
      batchRem: Int, nCells: Int = 16): DataFrame =
    cached(spark, dir, s"ivf_index_incr_${batchMod}_$batchRem") { p =>
      val e = Tables.embeddings(spark, dir)
      val isBatch = col("vec_id") >= nCells && col("vec_id") % batchMod === batchRem
      graft.similarity.Ann.writeIvfIndex(e.filter(!isBatch), p, nCells)
      graft.similarity.Ann.appendIvfIndex(
        spark.read.parquet(p), e.filter(isBatch), p, nCells)
    }

  /** HyperLogLog register table for `lineitem.l_orderkey`, maintained
    * INCREMENTALLY: registers are first built from the stable slice
    * (`l_orderkey % batchMod != batchRem`), persisted, and the held-out
    * batch then folds in by per-bucket MAX(ρ) over the STORED registers +
    * the batch's own registers — the fold reads ≤ m stored rows plus the
    * batch, never the base corpus. Because merge-of-sketches ≡
    * sketch-of-union exactly (hll2), the maintained table serves estimates
    * bit-identically to a full rebuild — which is what the hll3 gate's
    * oracle computes. This is the sketch rung of the maintained-index
    * family (postings ev15 / backlinks ev16 / IVF ann10): at 100 TB it is
    * how a deployment keeps live distinct counts over an append-only table
    * without ever rescanning it. */
  def hllRegsIncr(spark: SparkSession, dir: String, batchMod: Int,
      batchRem: Int): DataFrame =
    cached(spark, dir, s"hll_regs_incr_${batchMod}_$batchRem") { p =>
      val key = col("l_orderkey")
      val e = Tables.lineitem(spark, dir)
      val isBatch = key % batchMod === batchRem
      val basePath = s"$p-base"
      graft.layout.Sketches.registers(e.filter(!isBatch), key)
        .write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
        .unionByName(graft.layout.Sketches.registers(e.filter(isBatch), key))
        .groupBy("bucket").agg(max("rho").as("rho"))
        .write.mode("overwrite").parquet(p)
    }

  /** Maintained KMV bottom-k sketch ([[graft.layout.Kmv]]): the stable slice's
    * sketch is written once; the appended batch folds in by re-aggregating the
    * base sketch's values with the batch's — bottom-k of a union of bottom-ks
    * IS the union's bottom-k, so the fold never rescans the base (the same
    * maintained-index contract as [[hllRegsIncr]]). */
  def kmvIncr(spark: SparkSession, dir: String, batchMod: Int,
      batchRem: Int): DataFrame =
    cached(spark, dir, s"kmv_incr_${batchMod}_$batchRem") { p =>
      import graft.layout.Kmv
      val key = col("l_orderkey")
      val e = Tables.lineitem(spark, dir)
      val isBatch = key % batchMod === batchRem
      val kmv = Kmv.agg()
      val basePath = s"$p-base"
      e.filter(!isBatch).select(Kmv.hash(key).as("h"))
        .agg(kmv(col("h")).as("sk"))
        .select(col("sk.values").as("sk"))
        .write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
        .select(explode(col("sk")).as("h"))
        .unionByName(e.filter(isBatch).select(Kmv.hash(key).as("h")))
        .agg(kmv(col("h")).as("sk"))
        .select(col("sk.values").as("sk"))
        .write.mode("overwrite").parquet(p)
    }

  /** Maintained Count-Min counter matrix: counters ADD under merge, so the
    * appended batch's d×w matrix sums cell-wise onto the stable base's —
    * the fold touches ≤ d·w cells and never rescans the base token stream
    * (same contract as [[hllRegsIncr]]/[[kmvIncr]]; batch = documents with
    * doc_id % mod == rem). */
  def cmsIncr(spark: SparkSession, dir: String, batchMod: Int,
      batchRem: Int): DataFrame =
    cached(spark, dir, s"cms_incr_${batchMod}_$batchRem") { p =>
      import graft.layout.Sketches
      import graft.text.TextAnalysis
      val docs = Tables.documents(spark, dir)
      val isBatch = col("doc_id") % batchMod === batchRem
      def toks(df: DataFrame) =
        df.select(explode(TextAnalysis.tokens(col("text"))).as("k"))
      val basePath = s"$p-base"
      Sketches.cmsCounters(toks(docs.filter(!isBatch)), col("k"))
        .write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
        .unionByName(Sketches.cmsCounters(toks(docs.filter(isBatch)), col("k")))
        .groupBy("row_d", "idx").agg(sum("cnt").as("cnt"))
        .write.mode("overwrite").parquet(p)
    }

  /** Maintained equi-width histogram: bucket counts ADD under merge, so
    * the appended batch's ≤B-row histogram folds cell-wise onto the
    * persisted base — under bounds FROZEN from the base slice (the ann10
    * frozen-codebook contract: the bucket function must not move when data
    * arrives, so out-of-range batch values clamp to the edge buckets).
    * Never rescans the base rows; ≡ a direct clamped build, which is what
    * the st4 oracle computes. */
  def histIncr(spark: SparkSession, dir: String, batchMod: Int,
      batchRem: Int): DataFrame =
    cached(spark, dir, s"hist_incr_${batchMod}_$batchRem") { p =>
      import graft.layout.Sketches
      val e = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("x"), col("l_orderkey"))
      val isBatch = col("l_orderkey") % batchMod === batchRem
      val basePath = s"$p-base"
      val boundsPath = s"$p-bounds"
      // Freeze (lo, dd) AT BUILD TIME: persisted next to the base histogram
      // and read back for every fold, so incremental folds never rescan the
      // base rows (not even for a min/max) — the frozen-codebook contract
      // taken literally.
      e.filter(!isBatch)
        .agg(min("x").as("lo"), max("x").as("hi"))
        .select(col("lo"), (col("hi") - col("lo") + 1).as("dd"))
        .write.mode("overwrite").parquet(boundsPath)
      val bounds = spark.read.parquet(boundsPath)
      def histOf(df: DataFrame) = df.crossJoin(broadcast(bounds))
        .groupBy(expr(Sketches.histBucketClampedSql("x", "lo", "dd", "div"))
          .as("k"))
        .agg(count(lit(1)).as("cnt"))
      histOf(e.filter(!isBatch)).write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
        .unionByName(histOf(e.filter(isBatch)))
        .groupBy("k").agg(sum("cnt").as("cnt"))
        .write.mode("overwrite").parquet(p)
    }

  /** Maintained Bloom word relation: the stable slice's packed words are
    * written once; the appended batch's words fold in by cell-wise bit_or —
    * OR-merge is exact, so the fold equals the direct full-corpus build BIT
    * FOR BIT and never rescans the base (same contract as
    * [[hllRegsIncr]]/[[kmvIncr]]/[[cmsIncr]]). */
  def bloomIncr(spark: SparkSession, dir: String, batchMod: Int,
      batchRem: Int): DataFrame =
    cached(spark, dir, s"bloom_incr_${batchMod}_$batchRem") { p =>
      import graft.layout.Sketches
      val key = col("l_orderkey")
      val e = Tables.lineitem(spark, dir)
      val isBatch = key % batchMod === batchRem
      val basePath = s"$p-base"
      Sketches.bloomBuild(e.filter(!isBatch), key)
        .write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
        .unionByName(Sketches.bloomBuild(e.filter(isBatch), key))
        .groupBy("word_i").agg(expr("bit_or(bits)").as("bits"))
        .write.mode("overwrite").parquet(p)
    }

  /** Reverse-reference (backlink) index clustered by its lookup key
    * (predicate_iri, object_iri) — a `references_metadata` probe prunes to
    * one cluster via parquet min/max stats instead of re-grouping the quads
    * (the reference maintains this as its own LSM table,
    * `operations/src/metadata/iri_index.rs:48-73`). */
  def iriIndex(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "iri_index") { p =>
      graft.index.IriIndex.build(quads(spark, dir))
        .repartition(col("predicate_iri"), col("object_iri"))
        .sortWithinPartitions("predicate_iri", "object_iri", "graph_iri")
        .write.mode("overwrite").parquet(p)
    }
}
