package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Release registry for the caches a query leaves behind.
  *
  * Iterative operators ([[graft.sparql.PathCompiler]] level searches, the
  * orphan reachability filter) and the dedup operators cache barriers, derived
  * relations and broadcasts that the returned DataFrame still reads. The
  * frame is lazy, so the operator cannot release them itself; it registers
  * them here instead.
  *
  * Contract: registrations belong to the thread that built the frame, and
  * that thread's caller releases them with [[release]] once the frame's
  * action has run. One query is in flight per thread; queries on other
  * threads keep their caches, so a session can serve concurrent queries.
  * The engine never releases on its own. Composing two queries into one
  * lazy plan before any action is still correct: a released RDD recomputes
  * from lineage. A destroyed broadcast cannot, so release only after the
  * action.
  */
object Caches {

  private val tracked = ThreadLocal.withInitial(() => new java.util.ArrayDeque[() => Unit]())

  /** Register a cached RDD with the calling thread. */
  def track(rdd: RDD[_]): Unit = tracked.get.add(() => rdd.unpersist(blocking = false))

  /** Register a persisted DataFrame with the calling thread. */
  def track(df: DataFrame): Unit = tracked.get.add(() => { df.unpersist(blocking = false); () })

  /** Register a broadcast variable (e.g. the incremental-dedup Bloom
    * filter) with the calling thread, for destruction at its release:
    * broadcasts hold driver and executor memory outside the block-manager
    * cache, so a leaked one accumulates until OOM. */
  def track(b: org.apache.spark.broadcast.Broadcast[_]): Unit =
    tracked.get.add(() => b.destroy())

  /** Release everything the calling thread registered since its last
    * release. */
  def release(): Unit = {
    val mine = tracked.get
    var r = mine.poll()
    while (r != null) { r(); r = mine.poll() }
  }

  /** Lineage barrier for iterative operators: a fresh LogicalRDD with no
    * inherited constraints. `localCheckpoint` CANNOT be used here — it
    * carries origin constraints that break Union's constraint rewrite in
    * Spark 4.1 (`NoSuchElementException` in `Union.rewriteConstraints`).
    * The rows are cached as INTERNAL rows (`queryExecution.toRdd`, copied —
    * toRdd reuses its row buffers — then wrapped via
    * [[org.apache.spark.sql.graftnative.Native.internalOfRows]]): the
    * previous `df.rdd.cache()` form decoded every row to an external
    * GenericRow on materialization and re-encoded it through a RowEncoder on
    * EVERY consumer pass — pure per-row overhead multiplied by fixpoint
    * rounds (r13 optimization; see OPTIMIZATION_r13.md for the gate-level
    * before/after of the closure-heavy sp/or/dd gates).
    * Returns the barriered frame and its cached RDD so the caller can
    * unpersist superseded rounds; track the FINAL round here instead (the
    * consumer has not run its action yet). */
  def barrier(df: DataFrame): (DataFrame, RDD[_]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).cache()
    (org.apache.spark.sql.graftnative.Native.internalOfRows(
      df.sparkSession, rdd, df.schema), rdd)
  }
}
