package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blob-replication queue (reference `operations/src/replication/queue.rs`):
  *
  *  - jobs key on their full IDENTITY (mode, bucket, target, marker, …) —
  *    `blob_replication_job_key`, `queue.rs:374-389` — so re-enqueues of the
  *    same work collapse; the stored record is decided by the preferred
  *    rule `(candidate.attempts, candidate.due_at_ms) > (current…)`
  *    (`queue.rs:401-406`): strictly-greater wins, so on a tie the EARLIEST
  *    write survives;
  *  - the due drain (`scan_due_blob_replication_jobs`, `queue.rs:1916-2010`)
  *    walks the keyspace in identity-key order collecting jobs with
  *    `due_at_ms <= now` up to `REPLICATION_BATCH_SIZE` (64); hitting the
  *    cap sets `has_more_due`; `next_due_at_ms` is the minimum FUTURE due
  *    among records the walk passed before filling the page — the retry
  *    timer's wake-up hint.
  *
  * Scale: the fold is one per-identity rank window (map-side top-1 under a
  * key-clustered layout); the drain is a [[Listing.page]] look-ahead over
  * the due predicate plus one scalar aggregate for the wake-up hint — the
  * scan cap means the page never depends on queue depth. */
object ReplQueue {

  val ReplicationBatchSize = 64 // queue.rs:44

  /** Fold an insert log to the stored queue state: per identity the
    * preferred record — max (attempts, due_at_ms), earliest arrival on a
    * full tie (strictly-greater-wins semantics). */
  def storeFold(inserts: DataFrame): DataFrame = {
    val w = Window.partitionBy("ident")
      .orderBy(col("attempts").desc, col("due_at_ms").desc, col("seq").asc)
    inserts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("ident", "attempts", "due_at_ms", "seq")
  }

  /** One due-drain page over the folded store. */
  def dueScan(store: DataFrame, nowMs: Long,
      limit: Int = ReplicationBatchSize): DataFrame = {
    val page = Listing.page(store.filter(col("due_at_ms") <= nowMs),
      Seq(col("ident")), limit)
    // one scalar meta row: whether more due jobs follow the page (false for
    // an empty page) + the page's cutoff identity
    val meta = page.agg(
      coalesce(max(col("is_truncated")), lit(false)).as("__more"),
      max(col("ident")).as("__cutoff"))
    // wake-up hint: min future due among records the key-order walk passed
    // before the page filled (whole keyspace when the page did not fill);
    // linear scan against the broadcast 1-row meta, never page x future
    val hint = store.filter(col("due_at_ms") > nowMs)
      .crossJoin(broadcast(meta))
      .filter(!col("__more") || col("ident") < col("__cutoff"))
      .agg(min(col("due_at_ms")).as("next_due_at_ms"))
    page.crossJoin(broadcast(hint))
      .select(col("ident"), col("attempts"), col("due_at_ms"), col("seq"),
        col("is_truncated").as("has_more_due"), col("next_due_at_ms"))
  }
}
