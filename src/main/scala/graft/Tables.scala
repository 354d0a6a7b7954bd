package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.jdk.CollectionConverters._

/** Readers for the driver-provided parquet tables (TESTDATA.md) plus the
  * aruna-shaped derived tables (FIXTURES.md §1) that the engine operators
  * consume: `quads`, `registry`, `objects`, `blobs`, `buckets`.
  *
  * Derivations are deterministic functions of the driver tables so the
  * DuckDB oracle can rebuild the exact same rows from the same parquet via
  * the SQL fragments in [[OracleCtes]].
  *
  * Scale notes: every derived table is a narrow projection/union of a
  * columnar scan — no shuffle, no driver-side materialization. At 100 TB the
  * physical `quads` table would be written out partitioned by a bucket of
  * `graph_iri` (SURVEY §7); here derivation stays lazy so Catalyst prunes
  * columns all the way into the parquet scan.
  */
object Tables {

  /** Scale-adaptive fan-out threshold: bytes-per-core below which a driver
    * table is "unsplittable-small" (guide §2.5). The driver's parquet inputs
    * are single-row-group files, so a scan yields at most a handful of
    * row-bearing splits no matter the core count — every derivation stage
    * over them runs near-single-threaded while 31 cores idle (measured:
    * cat7's objects stage 2.05 s CPU in 1 row-bearing task). Below
    * 16 MB/core the one-off hash exchange is trivially cheap and buys
    * full-width derivation; above it the scan splits naturally and the
    * read is returned untouched — at production scale (files >> cores ×
    * maxPartitionBytes) no extra exchange ever appears. */
  private val FanOutBytesPerCore = 16L * 1024 * 1024

  /** Redistribute an unsplittable-small scan across the cluster once,
    * right after the read; identity above the size threshold. Hash
    * repartitioning on a near-unique key is a pure row function (safe
    * under task retry, no round-robin sort-before-repartition pass;
    * guide §2.5).
    *
    * Applied PER CONSUMER, never at the reader: the fan-out exchange only
    * pays off for single-pass consumers with heavy per-row work (the tx
    * tokenize/shingle band: −40..−60% measured). A reader-level blanket
    * was measured and REJECTED three ways in r13: it re-orders the
    * exchange above the scan's partial aggregation (q1 0.20→0.43 s,
    * q6 0.11→0.29 s), multiplies per union arm / per fixpoint round for
    * multi-read lineages (gr1 +0.70 s, or1 +1.20 s, cr1 +0.69 s isolated
    * A/B), and defeats broadcast-pruned per-batch scans (ev15 +0.28 s). */
  private[graft] def fanOut(spark: SparkSession, path: String,
      df: DataFrame, key: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (dataBytes(path) < par * FanOutBytesPerCore) df.repartition(par, col(key))
    else df
  }

  /** Bytes of a table's data files: a file's size, or for a directory-layout
    * table (standard Spark write output) the sum over its regular files,
    * recursively, not the directory inode (~4 KB) — or every large table
    * would classify as "unsplittable-small" and eat a cluster-wide
    * repartition (r14 ADVICE fix). Like Spark's own file listing it skips
    * every path under the table whose name starts with `_` or `.`
    * (`_SUCCESS`, `.crc` checksums, `_temporary`). Unknown or missing paths
    * read as `Long.MaxValue` ("large", no fan-out); only non-fatal errors
    * are swallowed. */
  private[graft] def dataBytes(path: String): Long =
    try {
      val p = java.nio.file.Paths.get(path)
      def hidden(f: java.nio.file.Path): Boolean =
        p.relativize(f).iterator().asScala.map(_.toString)
          .exists(n => n.startsWith("_") || n.startsWith("."))
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => java.nio.file.Files.isRegularFile(f) && !hidden(f))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      } else java.nio.file.Files.size(p)
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  /** events go through the normalizing reader — the generator has shipped
    * `ts` as both int64-ns and timestamp[us] across rounds, and a raw read
    * hands callers a schema-dependent column (the round-6 ev* breakage). */
  def events(s: SparkSession, d: String): DataFrame =
    graft.streaming.Projector.events(s, d)
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  /** [[documents]] fanned out once after the read (see [[fanOut]]) — for
    * SINGLE-PASS consumers with heavy per-row text work (tokenize /
    * shingle / n-gram); multi-read, unioned, or iterative lineages must
    * stay on [[documents]]. */
  def documentsFanned(s: SparkSession, d: String): DataFrame =
    fanOut(s, s"$d/documents.parquet", documents(s, d), "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  // ---------------------------------------------------------------------
  // Exact-arithmetic helpers for oracle parity.
  // Double sums are order-dependent; decimal sums are exact and associative,
  // so `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)` is bit-identical
  // between Spark and DuckDB regardless of partitioning.
  // ---------------------------------------------------------------------

  /** Exact sum of a double column: cast to decimal(18,4), sum, cast back.
    * Per-row scalar math must stay in pure double (deterministic IEEE ops,
    * identical in Spark and DuckDB); only the SUM goes through decimal.
    * Decimal→decimal scale reduction is forbidden: Spark rounds HALF_UP,
    * DuckDB truncates — exact halves would diverge. A double can never be an
    * exact half at scale 4, so double→decimal(18,4) is unambiguous, and
    * decimal(18,4)→double stays on the exact long/10^4 fast path while the
    * unscaled value < 2^52 (sums < ~4.5e11).
    */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Exact average: decimal sum divided by count, in double at the end. */
  def davg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (sum(c.cast(DecimalType(18, 4))).cast("double") / count(c))
}
