package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Sync-mirror repair queue (reference
  * `operations/src/sync_mirror_repair.rs`): staged Reconcile/Delete intents
  * per sync relationship, drained by a due-ordered sweep that ensures or
  * deletes the target mirror and reschedules failures with the shared
  * queue backoff (`queue_backoff.rs`).
  *
  * Pinned semantics:
  *  - sweep (`scan_repair_records`/`process_mirror_repairs`,
  *    `sync_mirror_repair.rs:368-612`): due records (due_at_ms <= now)
  *    sort by (due_at_ms, key) and truncate to REPAIR_BATCH_SIZE=64;
  *    `has_more_due` when the cap bound; `next_due_after` = min future
  *    due - now, reported only when the cap did NOT bind;
  *  - per record (`process_repair_record`, `:499-531`): a Reconcile whose
  *    outgoing relationship is missing or Detached DELETES the mirror
  *    (detached stubs only serve retained reference reads — never
  *    resurrect, `:509-515`); a live Reconcile ensures the mirror, which
  *    requires the target bucket to exist and the relationship creator to
  *    hold WRITE there (`ensure_target_write`, `:450-497` — the decision
  *    relation here is the collected output of [[Authz.decide]], gated by
  *    au1); a Delete removes local relationships and the mirror;
  *  - failures reschedule with attempts+1 and due = now +
  *    `queue_retry_after_ms(attempts+1)` = min(250·2^min(a,7), 30000) ms
  *    (`queue_backoff.rs:4-12`, `reschedule_repair_record`, `:627-633`);
  *    successes clear the record;
  *  - intent ledger (`store_repair_record`, `:673-707`;
  *    `clear_repair_intent`, `:709-745`; `store_sync_status`, `:141-214`):
  *    staging Delete always overwrites; staging Reconcile over a pending
  *    Delete is a NO-OP (delete supersedes reconcile); a clear removes the
  *    record only when the pending intent matches the expected one; a
  *    status update stages a Reconcile unless the relationship is missing,
  *    Detached, or a Delete is pending (never resurrect via status).
  *
  * Scale shape: the repair keyspace is a queue (bounded by staged work,
  * not by the data lake), so the sweep is a TakeOrdered prefix plus two
  * scalar aggregates; relationship/bucket/permission sides broadcast.
  */
object MirrorRepair {

  val RepairBatchSize = 64
  val QueueRetryBaseMs = 250L
  val QueueRetryMaxMs = 30000L

  /** `queue_retry_after_ms`: 250·2^min(attempts,7) capped at 30 s. */
  def retryAfterMs(attempts: Column): Column = {
    val pow2 = array((0 to 7).map(i => lit(1L << i)): _*)
    least(lit(QueueRetryBaseMs) *
      element_at(pow2, least(attempts, lit(7)).cast("int") + 1),
      lit(QueueRetryMaxMs))
  }

  /** One repair sweep. `repairs(rel_id, intent, due_at_ms, attempts)`,
    * `rels(rel_id, state, target_bucket, created_by)` (the outgoing
    * relationship store), `buckets(bucket)`, `writable(user_id, bucket)`
    * (collected WRITE decisions). Emits one row per processed record with
    * the jp1-style trailer columns on every row. */
  def sweep(repairs: DataFrame, rels: DataFrame, buckets: DataFrame,
      writable: DataFrame, nowMs: Long): DataFrame = {
    val r = repairs.select(col("rel_id"), col("intent"), col("due_at_ms"),
      col("attempts"))
    // bounded: two scalars over the queue keyspace (one narrow scan)
    val Array(stats) = r.agg(
      sum(when(col("due_at_ms") <= nowMs, 1L).otherwise(0L)).as("n_due"),
      min(when(col("due_at_ms") > nowMs, col("due_at_ms"))).as("next_due"))
      .collect()
    val nDue = Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val hasMore = nDue > RepairBatchSize
    val nextDueAfter: Option[Long] =
      if (hasMore) None
      else Option(stats.get(1)).map(_.asInstanceOf[Long] - nowMs)

    // orderBy+limit plans as TakeOrdered: per-partition top-64, no shuffle
    val batch = r.filter(col("due_at_ms") <= nowMs)
      .orderBy(col("due_at_ms"), col("rel_id"))
      .limit(RepairBatchSize)

    // The relationship store is keyspace-sized (NOT broadcastable at
    // 100 TB); the batch is <= 64 rows. Broadcast the batch keys INTO the
    // store scan as a semi-join (the drs1 probe-keys shape), then the
    // <= 64 surviving relationship rows broadcast into the verdict join.
    val relsSlim = rels
      .select(col("rel_id"), col("state"), col("target_bucket"),
        col("created_by"))
      .join(broadcast(batch.select(col("rel_id"))), Seq("rel_id"),
        "left_semi")

    val joined = batch
      .join(broadcast(relsSlim), Seq("rel_id"), "left_outer")
      .join(broadcast(buckets.select(col("bucket").as("target_bucket"),
          lit(true).as("bucket_exists"))),
        Seq("target_bucket"), "left_outer")
      .join(broadcast(writable.select(col("user_id").as("created_by"),
          col("bucket").as("target_bucket"), lit(true).as("can_write"))),
        Seq("created_by", "target_bucket"), "left_outer")

    val action = when(col("intent") === "Delete", "delete_local_and_mirror")
      .when(col("state").isNull || col("state") === "Detached",
        "delete_mirror")
      .otherwise("ensure_mirror")
    val error = when(col("intent") === "Delete", lit(null))
      .when(col("state").isNull || col("state") === "Detached", lit(null))
      .when(col("bucket_exists").isNull, "target bucket not found")
      .when(col("can_write").isNull, "access_denied")
      .otherwise(lit(null))
    joined.select(col("rel_id"), col("intent"),
        action.as("action"), error.as("last_error"),
        when(error.isNull, "cleared").otherwise("rescheduled").as("outcome"),
        when(error.isNull, lit(null))
          .otherwise(col("attempts") + 1).cast("long").as("attempts_after"),
        when(error.isNull, lit(null))
          .otherwise(lit(nowMs) + retryAfterMs(col("attempts") + 1))
          .cast("long").as("next_due_ms"))
      .withColumn("has_more_due", lit(hasMore))
      .withColumn("next_due_after_ms",
        nextDueAfter.map(lit(_)).getOrElse(lit(null)).cast("long"))
  }

  /** The ledger fold: replays each relationship's staged-intent events in
    * sequence order and returns the pending intent (or none). Event kinds:
    * stage_reconcile, stage_delete, clear_reconcile, clear_delete,
    * status_update; `rel_state` rides on status_update rows (the guard
    * needs the relationship's state at that step). State is one of
    * none | Reconcile | Delete, so the fold is a tiny per-key scan over
    * collect_list — events per key are API-action-bounded. */
  private val foldUdf: UserDefinedFunction = udf {
    (events: Seq[Row]) =>
      var state: String = "none"
      events.foreach { e =>
        val kind = e.getString(1)
        val relState = e.getString(2)
        kind match {
          case "stage_delete" => state = "Delete"
          case "stage_reconcile" =>
            if (state != "Delete") state = "Reconcile"
          case "clear_reconcile" =>
            if (state == "Reconcile") state = "none"
          case "clear_delete" =>
            if (state == "Delete") state = "none"
          case "status_update" =>
            if (state != "Delete" && relState != null &&
              relState != "Detached" && relState != "missing")
              state = "Reconcile"
          case _ => ()
        }
      }
      state
  }

  /** `events(rel_id, seq, kind, rel_state)` → `(rel_id, pending)`. */
  def ledgerFold(events: DataFrame): DataFrame =
    events
      .groupBy(col("rel_id"))
      .agg(sort_array(collect_list(struct(col("seq"), col("kind"),
        col("rel_state")))).as("evs"))
      .select(col("rel_id"), foldUdf(col("evs")).as("pending"))
}
