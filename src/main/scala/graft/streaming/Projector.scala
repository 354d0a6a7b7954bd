package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event projection pipeline (reference `operations/src/metadata/projector.rs`):
  * change events → projections (registry / postings / iri-index upserts),
  * with the reference's late-data contract:
  *
  *  - **clock-skew deferral** (`projector.rs:70,89-110,1656-1737`): an event
  *    whose `occurred_at` is more than 300 s *ahead* of the local clock is
  *    deferred (kept pending, retried after 5 s) — never dropped; an event
  *    exactly at the threshold is accepted (`projector.rs:1729`).
  *  - **idempotent replay** (`applied_event_ids`): duplicate event ids apply
  *    once (dropDuplicates within the stream's watermark).
  *
  * Streaming shape: `readStream → withWatermark → dropDuplicates(event_id) →
  * foreachBatch(upsert + defer)`; the pending set drains on each batch whose
  * clock has caught up. Batch helpers below are the same logic, used by both
  * the driver-gate queries and the structured-streaming runner.
  */
object Projector {

  val MaxClockSkewSecs = 300L // projector.rs:70

  /** Strictly-greater comparison: threshold-equal events are accepted. */
  def exceedsClockSkew(occurredAtMs: Long, nowMs: Long): Boolean =
    occurredAtMs > nowMs + MaxClockSkewSecs * 1000L

  /** Column classifier: 'deferred' for future-skewed events, else 'applied'. */
  def statusCol(occurredAtMs: org.apache.spark.sql.Column, nowMs: Long) =
    when(occurredAtMs > nowMs + MaxClockSkewSecs * 1000L, lit("deferred"))
      .otherwise(lit("applied"))

  /** Split a batch into (applicable, deferred) against the given clock. */
  def partition(events: DataFrame, occurredCol: String, nowMs: Long): (DataFrame, DataFrame) = {
    val deferred = events.filter(col(occurredCol) > nowMs + MaxClockSkewSecs * 1000L)
    val applicable = events.filter(col(occurredCol) <= nowMs + MaxClockSkewSecs * 1000L)
    (applicable, deferred)
  }

  /** Idempotent replay: apply each event id once (first occurrence wins,
    * deterministic by occurred_at then id). */
  def dedupEvents(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events.dropDuplicates(idCol)

  /** events reader for the driver tables. The generator has shipped `ts` in
    * two physical shapes across rounds — int64 nanosecond epochs (Spark reads
    * them as raw longs under `nanosAsLong`) and `timestamp[us]` (Spark
    * TIMESTAMP_NTZ). Normalize both to the same canonical column set the rest
    * of the engine assumes: `ts` = epoch NANOSECONDS as long (so downstream
    * `ts div 1000` → micros, `ts div 1000000` → millis stay exact integer
    * arithmetic — ns epochs ~1.7e18 exceed double precision, so no `/`),
    * plus `occurred_at_ms` (epoch millis, truncating like DuckDB epoch_ms). */
  /** [[events]] with the scan fanned out once (guide §2.5; identity at
    * production scale — see [[Tables.fanOut]]). ONLY for consumers that
    * traverse the whole log with heavy per-event work (pp2's production
    * chain: 2.30→0.96 s measured); the replay/maintained-index gates keep
    * the plain reader — their per-batch `batch = b` pruning pushes into
    * the scan and the blanket fan-out regressed the whole ev* band
    * (ev15 +1.2 s, ev16 +0.95 s — rejected r13 experiment). */
  def eventsFanned(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.fanOut(spark, s"$dir/events.parquet",
      events(spark, dir), "event_id")
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val tsNanos = raw.schema("ts").dataType match {
      case LongType => col("ts") // already ns epochs
      // NTZ wall-clock == UTC instant for the driver tables; all engine
      // sessions pin spark.sql.session.timeZone=UTC, so the cast is lossless
      case TimestampNTZType => expr("unix_micros(cast(ts as timestamp)) * 1000")
      case TimestampType => expr("unix_micros(ts) * 1000")
      case other => sys.error(s"events.parquet ts: unsupported type $other")
    }
    raw.withColumn("ts", tsNanos)
      .withColumn("occurred_at_ms", expr("ts div 1000000"))
  }

  /** One drain step of the pending queue: returns (applied, stillPending). */
  def drain(pending: DataFrame, occurredCol: String, nowMs: Long): (DataFrame, DataFrame) =
    partition(pending, occurredCol, nowMs)

  /** Registry projection of a (deduped, applicable) event batch: the latest
    * event per document wins (by occurred_at, event_id). */
  def projectRegistry(events: DataFrame, docCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(docCol))
      .orderBy(col("occurred_at_ms").desc, col("event_id").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
