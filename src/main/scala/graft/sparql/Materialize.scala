package graft.sparql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout for the quads store at scale (SURVEY §7): parquet
  * partitioned by a hash bucket of `graph_iri`, so graph-scoped queries —
  * the reference's dominant access path after visibility scoping — prune to
  * one partition directory instead of scanning the corpus.
  *
  * 64 buckets ≈ thousands of graphs per bucket at 100 TB; bump
  * [[NumGraphBuckets]] with corpus size (it is encoded in the table path's
  * layout, not the data).
  */
object Materialize {

  val NumGraphBuckets = 64

  /** The `graph_bucket` of a graph IRI. On a literal IRI the expression is
    * foldable, so a filter comparing `graph_bucket` with it constant-folds
    * and prunes partition directories. */
  def bucketCol(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(g), lit(NumGraphBuckets))

  /** Write quads partitioned by graph bucket. */
  def writeQuads(quads: DataFrame, path: String): Unit =
    quads
      .withColumn("graph_bucket", bucketCol(col("graph_iri")))
      .repartition(col("graph_bucket"))
      .write.mode("overwrite")
      .partitionBy("graph_bucket")
      .parquet(path)

  def readQuads(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Graph-scoped scan over a materialized table: the bucket predicate is a
    * foldable expression, so Catalyst constant-folds it and prunes partition
    * directories before listing files. */
  def scopedScan(quads: DataFrame, graphIri: String): DataFrame =
    quads.filter(col("graph_bucket") === bucketCol(lit(graphIri)) &&
      col("graph_iri") === graphIri)
}
