package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metadata graph-prune queue (reference
  * `operations/src/metadata/prune_queue.rs`).
  *
  * Tombstone intake (`process_metadata_graph_tombstones`, `:277-330`):
  * lifecycle tombstones that are not deleted are skipped; the first DELETED
  * tombstone per graph wins (`seen_graphs.insert`) and enqueues one prune
  * job; the graph is pruned immediately when the metadata store still holds
  * it (`prune_graph_if_deleted` → Ok(true)); and because a deleted document
  * is absent from the registry, its IRI-index rows are pruned in the same
  * pass rather than left to leak into the predicate-less backlink scan
  * (`prune_deleted_iri_index_rows`, `:331-343`).
  *
  * The drain (`process_metadata_graph_prune_batch`, `:199-252`) scans due
  * jobs in key order up to PRUNE_BATCH_SIZE (128) — hitting the cap sets
  * `has_more_due`, and the wake-up hint is the minimum FUTURE due among
  * records the walk passed before the page filled
  * (`scan_due_graph_prune_jobs`, `:404-521`). Jobs group by graph
  * (`group_prune_jobs`): a graph whose lifecycle record is absent or not
  * deleted just drops its jobs (the delete raced a recreate — processed 0,
  * `:358-364`); a deleted graph prunes (processed 1, jobs completed); a
  * prune failure reschedules ONE representative job — the max by
  * (attempts, due_at_ms), `representative_job` `:393-402` — with
  * attempts+1 and the queue backoff 250 ms·2^min(attempts,7) ≤ 30 s
  * (`reschedule_graph_prune_job`, `:714-726`). Non-canonical-key repair
  * (`graph_prune_job_preferred`, `:630-635`) is the rq1-pinned
  * preferred-record rule and is not re-modelled here.
  *
  * Scale: the tombstone pass is two hash aggregations plus one semi-join
  * against the (bounded) store and one join against the IRI index keyed by
  * document; the drain page is a [[Listing.page]] look-ahead (cap 128) and
  * the group ladder one aggregation per graph. Nothing scales with corpus
  * size. */
object GraphPrune {

  val PruneBatchSize = 128 // prune_queue.rs:36

  private def queueBackoff(attempts: Column): Column =
    least(lit(30000L), lit(250L) *
      expr("CAST(shiftleft(1, CAST(least(__gp_n, 7) AS INT)) AS BIGINT)"))

  /** Tombstone intake. `tombstones(seq, graph_iri, document_id, deleted)`;
    * `storeGraphs(graph_iri)` — graphs the metadata store currently holds;
    * `iriIndex(document_id, ref_iri)`. Returns one row per enqueued graph:
    * `(graph_iri, document_id, n_tombstones, n_deleted, pruned,
    * n_iri_rows_pruned)`. */
  def tombstones(tombstones: DataFrame, storeGraphs: DataFrame,
      iriIndex: DataFrame): DataFrame = {
    val perGraph = tombstones.groupBy("graph_iri").agg(
      count(lit(1)).as("n_tombstones"),
      sum(when(col("deleted"), 1L).otherwise(0L)).as("n_deleted"),
      // the first deleted tombstone's document is the one recorded
      min(when(col("deleted"), struct(col("seq"), col("document_id"))))
        .as("first"))
      .filter(col("n_deleted") > 0)
      .select(col("graph_iri"), col("first.document_id").as("document_id"),
        col("n_tombstones"), col("n_deleted"))
    val idx = iriIndex.groupBy("document_id")
      .agg(count(lit(1)).as("n_iri_rows_pruned"))
    perGraph
      .join(storeGraphs.select(col("graph_iri"), lit(true).as("__in_store")),
        Seq("graph_iri"), "left_outer")
      .join(idx, Seq("document_id"), "left_outer")
      .select(col("graph_iri"), col("document_id"), col("n_tombstones"),
        col("n_deleted"),
        coalesce(col("__in_store"), lit(false)).as("pruned"),
        coalesce(col("n_iri_rows_pruned"), lit(0L)).as("n_iri_rows_pruned"))
  }

  /** One drain pass. `jobs(graph_iri, seq, due_at_ms, attempts)` — seq 0 is
    * the canonical key, higher seqs are enqueue-raced duplicates;
    * `lifecycle(graph_iri, deleted)`; `store(graph_iri, prune_ok)` — the
    * simulated prune outcome. Returns one row per graph in the due page:
    * `(graph_iri, n_jobs, verdict, processed, new_attempts, new_due_at_ms,
    * has_more_due, next_due_at_ms)`. */
  def drain(jobs: DataFrame, lifecycle: DataFrame, store: DataFrame,
      nowMs: Long, limit: Int = PruneBatchSize): DataFrame = {
    val page = Listing.page(jobs.filter(col("due_at_ms") <= nowMs),
      Seq(col("graph_iri"), col("seq")), limit)
    val meta = page.agg(
      coalesce(max(col("is_truncated")), lit(false)).as("has_more_due"),
      max(struct(col("graph_iri"), col("seq"))).as("__cutoff"))
    // wake-up hint over the scanned prefix (whole keyspace if page unfilled)
    val hint = jobs.filter(col("due_at_ms") > nowMs)
      .crossJoin(broadcast(meta))
      .filter(!col("has_more_due") ||
        struct(col("graph_iri"), col("seq")) < col("__cutoff"))
      .agg(min(col("due_at_ms")).as("next_due_at_ms"))

    val groups = page.groupBy("graph_iri").agg(
      count(lit(1)).as("n_jobs"),
      // representative: max (attempts, due_at_ms) (prune_queue.rs:393-402)
      max(struct(col("attempts"), col("due_at_ms"))).as("rep"))
    groups
      .join(lifecycle.select(col("graph_iri"),
        col("deleted").as("__deleted")), Seq("graph_iri"), "left_outer")
      .join(store.select(col("graph_iri"),
        col("prune_ok").as("__ok")), Seq("graph_iri"), "left_outer")
      .withColumn("verdict",
        when(!coalesce(col("__deleted"), lit(false)), "dropped_not_deleted")
          .when(coalesce(col("__ok"), lit(false)), "pruned")
          .otherwise("rescheduled"))
      .withColumn("processed",
        when(col("verdict") === "dropped_not_deleted", 0L).otherwise(1L))
      .withColumn("__gp_n", when(col("verdict") === "rescheduled",
        col("rep.attempts") + 1L))
      .withColumn("new_attempts", col("__gp_n"))
      .withColumn("new_due_at_ms", when(col("verdict") === "rescheduled",
        lit(nowMs) + queueBackoff(col("__gp_n"))))
      .crossJoin(broadcast(meta.select("has_more_due")))
      .crossJoin(broadcast(hint))
      .select(col("graph_iri"), col("n_jobs"), col("verdict"),
        col("processed"), col("new_attempts"), col("new_due_at_ms"),
        col("has_more_due"), col("next_due_at_ms"))
  }
}
