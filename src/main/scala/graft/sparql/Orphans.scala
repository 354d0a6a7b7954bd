package graft.sparql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Orphan-entity filtering (reference `handle.rs:4960-4975`: the snapshot
  * export skips every quad whose subject or object is an orphaned entity).
  *
  * An entity (a subject IRI of the graph) is orphaned when it is not
  * reachable from the graph's root entity by following intra-graph IRI
  * references. Reachability — not just "has an inbound edge" — so a
  * dangling cluster that only references itself (or the root tree) is
  * dropped wholesale, matching the diagnostic set the reference consumes.
  *
  * Scale: edges are restricted to entity→entity references (a semi-join
  * against the subject set) before the search, and the search runs seeded
  * from the roots as the path compiler's `+` ([[PathCompiler.levels]] with
  * no upper bound) — per-round work is O(reachable), keyed by (graph,
  * node), never a global closure.
  */
object Orphans {

  /** Orphan sets at or below this row count broadcast into the anti-joins
    * (two short strings per row, well under executor memory); larger sets
    * fall back to shuffle anti-joins. */
  val BroadcastMaxOrphans = 2000000L

  private val Sep = "\u0001" // (graph, node) composite key separator

  private def key(g: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
    concat_ws(Sep, g, n)

  /** (graph_iri, entity) pairs unreachable from their graph's root.
    * `roots` columns: (graph_iri, root). */
  def orphanedEntities(quads: DataFrame, roots: DataFrame): DataFrame = {
    // subjects and edges both walk the full quad set — cache ONE narrow
    // skeleton pass instead of evaluating the quads lineage twice. Literal
    // payloads are nulled out (only IRI objects matter to reachability), so
    // the cached bytes are graph/subject/IRI strings, not document text —
    // the projection that keeps this cacheable when quads are wide.
    val skeleton = quads.select(col("graph_iri"), col("subject"),
        col("obj_kind"),
        when(col("obj_kind") === Kind.Iri, col("obj_value")).as("obj_value"))
      .persist()
    graft.Caches.track(skeleton)
    val subjects = skeleton.select(col("graph_iri"), col("subject")).distinct()
    // entity→entity edges only: IRI objects that are subjects of the same graph
    val edges = skeleton.filter(col("obj_kind") === Kind.Iri)
      .select(col("graph_iri"), col("subject"), col("obj_value"))
      .join(subjects.withColumnRenamed("subject", "obj_value"),
        Seq("graph_iri", "obj_value"), "left_semi")
      .select(key(col("graph_iri"), col("subject")).as("s"),
        key(col("graph_iri"), col("obj_value")).as("o"))
    val seeds = roots
      .select(key(col("graph_iri"), col("root")).as("seed"))
      .withColumn("n", col("seed"))
    val reachable = PathCompiler.levels(edges, Some(seeds), 1, None,
        PathCompiler.LocalClosureMaxEdges)
      .select(col("n"))
      .union(seeds.select(col("n"))) // the root itself
      .distinct()
    subjects
      .withColumn("__k", key(col("graph_iri"), col("subject")))
      .join(reachable, col("__k") === reachable("n"), "left_anti")
      .select(col("graph_iri"), col("subject").as("entity"))
  }

  /** Quads minus every row touching an orphaned entity (subject or IRI
    * object), per `handle.rs:4969-4971`.
    *
    * The orphan set's lineage (seeded reachability search + anti-join) is
    * the expensive part, and it feeds BOTH anti-joins — so it is barriered
    * into one cached RDD and evaluated once; without the barrier each
    * consumer re-runs the whole search (the round-2 or1 cost). The cache
    * is registered with [[graft.Caches]], for the caller to release. */
  def filterOrphaned(quads: DataFrame, roots: DataFrame): DataFrame = {
    val orphDf = orphanedEntities(quads, roots)
    // internal-row lineage barrier (see graft.Caches.barrier — avoids the
    // external-Row decode/re-encode of the old df.rdd.cache() form)
    val (barriered, orphRdd) = graft.Caches.barrier(orphDf)
    graft.Caches.track(orphRdd)
    // broadcast WHEN SMALL: the orphan set is usually bounded by the
    // export's graph scope (per-realm snapshot exports), and without the
    // hint Catalyst replicates SORT-MERGE anti-joins through the quads
    // union — full-table sorts per branch. The count is a cheap action on
    // the just-cached barrier (which must materialize anyway); a
    // pathological dirty store with millions of orphans keeps the
    // shuffle anti-join instead of hard-failing an 8GB broadcast.
    val orph =
      if (orphRdd.count() <= BroadcastMaxOrphans) broadcast(barriered) else barriered
    val bySubject = quads.as("q").join(orph.as("os"),
      col("q.graph_iri") === col("os.graph_iri") &&
        col("q.subject") === col("os.entity"), "left_anti")
    bySubject.as("q2").join(orph.as("oo"),
      col("q2.graph_iri") === col("oo.graph_iri") &&
        col("q2.obj_kind") === lit(Kind.Iri) &&
        col("q2.obj_value") === col("oo.entity"), "left_anti")
  }
}
