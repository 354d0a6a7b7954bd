package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph measures over an edge list — the link-analysis side of a
  * corpus pipeline (domain authority for crawl prioritization, citation
  * weight for sampling).
  *
  * PageRank here is the fixed-iteration dataflow formulation: each round is
  * one join (rank → out-edges) and one aggregation (contributions → target),
  * exactly the two shuffles Pregel-style systems pay per superstep. The
  * edge set with out-degrees is computed once and cached; at real scale it
  * would be written bucketed by `src` so every round's join is shuffle-free
  * on the edge side, and ranks would `localCheckpoint` every few rounds to
  * cut the growing lineage.
  */
object Graphs {

  /** Per-round contribution sums go through DECIMAL(18,13): contributions
    * are < 1, so the unscaled sum stays < 10^13 (exact long arithmetic,
    * order-free — a double sum would depend on partitioning), and the
    * cast back to double is one correctly-rounded IEEE division. A double
    * can never be an exact half at scale 13, so the double→decimal rounding
    * is unambiguous across engines (same argument as [[graft.Tables.dsum]]). */
  private val SumType = DecimalType(18, 13)

  /** Fixed-iteration PageRank: `pr₀ = 1/n`; each round every node sends
    * `damping · pr / out_deg` along its out-edges and every node restarts
    * from `(1 − damping)/n` plus what it receives. Dangling mass (nodes
    * with no out-edges) is dropped, the common non-normalized variant —
    * ranks then still converge proportionally. Nodes with no in-edges keep
    * the teleport term via the left join against the full node set.
    *
    * Returns (node, pr) — engine-exact: per-row arithmetic is IEEE double
    * (deterministic), cross-row sums are decimal (order-free). */
  def pageRank(edges: DataFrame, damping: Double, iterations: Int): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count()
    require(n > 0, "empty graph")
    // re-read every round: cache once, registered for the caller's release
    // (the round-2 session-leak discipline — see [[graft.Caches]])
    val withDeg = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
      .cache()
    graft.Caches.track(withDeg)
    val teleport = (1.0 - damping) / n
    var pr = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val sums = withDeg
        .join(pr, col("src") === col("node"))
        .select(col("dst"),
          (col("pr") / col("out_deg") * damping).cast(SumType).as("w"))
        .groupBy(col("dst"))
        .agg(sum(col("w")).cast("double").as("recv"))
      pr = nodes.join(sums, col("node") === col("dst"), "left")
        .select(col("node"), (lit(teleport) + coalesce(col("recv"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** Per-node triangle participation counts over the UNDIRECTED simple
    * graph induced by `edges` (direction dropped, self-loops and duplicate
    * edges removed). Each triangle {a,b,c} counts once for each member.
    *
    * The enumeration is the oriented wedge join: with edges canonicalized
    * to a < b, a triangle a<b<c appears exactly once as (a,b)⋈(b,c) closed
    * by (a,c) — two equi-joins, no post-hoc dedup by permutation. At scale
    * the standard refinement orients edges by DEGREE instead of id so
    * high-degree hubs never land on the wedge-center side (caps the
    * per-key join fan-out); id orientation keeps the oracle exact here and
    * the join shape is identical. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // read three times (two wedge sides + closure probe): cache once,
    // release via the entry-point registry
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache()
    graft.Caches.track(canon)
    val tri = canon
      .join(canon.toDF("b", "c"), "b")
      .join(canon.toDF("a", "c"), Seq("a", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distance, the reachability/proximity primitive
    * (crawl-frontier distance from seed domains, citation distance from a
    * trusted core). Returns (node, d) for every node within `maxDepth`
    * DIRECTED hops of a seed, d = MINIMUM hop count; unreached nodes are
    * absent.
    *
    * Frontier formulation: each round expands only the nodes discovered in
    * the previous round (never the whole visited set) and anti-joins the
    * visited set, so a round costs one frontier⋈edges join plus one
    * distinct — the Pregel superstep shape. The visited set is re-read
    * every round: cache per round, release via the entry-point registry; at
    * real scale `localCheckpoint` every few rounds cuts the growing
    * anti-join lineage, and edges live bucketed by `src` so every round's
    * join is shuffle-free on the edge side (same note as [[pageRank]]). */
  /** Edge sets at or below this row count run [[bfsHops]]/[[shortestPaths]]
    * on the driver (interned-index BFS / Bellman–Ford) instead of the
    * d-round dataflow — the [[graft.dedup.Dedup.LocalComponentsMaxEdges]] /
    * `PathCompiler.levels` device: each distributed round costs 2-4 Spark
    * jobs of pure scheduling overhead, versus microseconds of array
    * walking. Output is bounded by the node count ≤ 2·edges. Larger sets
    * (and non-long/int/string keys or null endpoints) keep the dataflow
    * rounds, which is the shape that scales to 100 TB. */
  val LocalGraphMaxEdges = 2000000L

  /** Collected (src, dst[, w]) edge array + interned node ids, or None when
    * a type/null needs the distributed path. */
  private def collectEdges(edges: DataFrame, seeds: DataFrame,
      withW: Boolean): Option[(Array[Int], Array[Int], Array[Long],
      Array[Int], scala.collection.mutable.ArrayBuffer[Any],
      java.util.HashMap[Any, Integer])] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val dt = edges.schema("src").dataType
    if (dt != LongType && dt != StringType && dt != IntegerType) return None
    if (seeds.schema("node").dataType != dt) return None
    // two-stage probe (r14): first a column-pruned limit(cap+1).count() —
    // LocalLimit short-circuits every scan task at cap+1 rows and only a
    // count crosses to the driver, so deciding "too big — use the dataflow"
    // never ships the ~2M-row edge prefix to the driver (the r13 form
    // collected it at any scale just to discard it). Only when the graph is
    // actually small does the second pass collect the rows the local
    // algorithm needs; the ≤2M-row double computation that costs is bench-
    // scale cheap, while the fallback probe is now bounded executor work.
    // The collects carry the same limit: the probe and the collect are two
    // evaluations, and a lineage that grew between them, or a seed set past
    // the bound, goes to the dataflow instead of the driver's heap.
    val bound = LocalGraphMaxEdges.toInt + 1
    if (edges.limit(bound).count() > LocalGraphMaxEdges) return None
    val eRows = edges.limit(bound).collect()
    val sRows = seeds.limit(bound).collect()
    if (eRows.length > LocalGraphMaxEdges || sRows.length > LocalGraphMaxEdges) return None
    val ids = new java.util.HashMap[Any, Integer]()
    val vals = new scala.collection.mutable.ArrayBuffer[Any]()
    def intern(v: Any): Int = {
      val got = ids.get(v)
      if (got != null) got.intValue()
      else { val id = vals.length; ids.put(v, id); vals += v; id }
    }
    val xs = new Array[Int](eRows.length)
    val ys = new Array[Int](eRows.length)
    val ws = if (withW) new Array[Long](eRows.length) else null
    var i = 0
    while (i < eRows.length) {
      val r = eRows(i)
      if (r.isNullAt(0) || r.isNullAt(1) || (withW && r.isNullAt(2))) return None
      xs(i) = intern(r.get(0))
      ys(i) = intern(r.get(1))
      if (withW) ws(i) = r.get(2) match {
        case l: java.lang.Long => l.longValue()
        case n: java.lang.Integer => n.longValue()
        case _ => return None
      }
      i += 1
    }
    // seeds outside the edge node domain still seed (they emit d=0 rows)
    val ss = new Array[Int](sRows.length)
    i = 0
    while (i < sRows.length) {
      if (sRows(i).isNullAt(0)) return None
      ss(i) = intern(sRows(i).get(0))
      i += 1
    }
    Some((xs, ys, ws, ss, vals, ids))
  }

  private def localResult(spark: org.apache.spark.sql.SparkSession,
      rows: IndexedSeq[org.apache.spark.sql.Row],
      nodeType: org.apache.spark.sql.types.DataType,
      dType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("node", nodeType, nullable = false),
        StructField("d", dType, nullable = false))))
  }

  def bfsHops(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    locally {
      collectEdges(edges, seeds, withW = false) match {
        case Some((xs, ys, _, ss, vals, _)) =>
          // interned adjacency BFS — same rounds as the dataflow form
          val n = vals.length
          val heads = Array.fill(n)(-1)
          val nexts = new Array[Int](xs.length)
          var i = 0
          while (i < xs.length) { nexts(i) = heads(xs(i)); heads(xs(i)) = i; i += 1 }
          val dist = Array.fill(n)(-1)
          var frontier = ss.distinct.toArray
          frontier.foreach(s => dist(s) = 0)
          var depth = 0
          while (depth < maxDepth && frontier.nonEmpty) {
            depth += 1
            val next = scala.collection.mutable.ArrayBuffer[Int]()
            frontier.foreach { u =>
              var e = heads(u)
              while (e >= 0) {
                val v = ys(e)
                if (dist(v) < 0) { dist(v) = depth; next += v }
                e = nexts(e)
              }
            }
            frontier = next.toArray
          }
          val out = (0 until n).iterator.filter(dist(_) >= 0)
            .map(i => org.apache.spark.sql.Row(vals(i), dist(i))).toIndexedSeq
          return localResult(edges.sparkSession, out,
            edges.schema("src").dataType,
            org.apache.spark.sql.types.IntegerType)
        case None => // unsupported shape — dataflow rounds below
      }
    }
    var visited = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0)).cache()
    graft.Caches.track(visited)
    var frontier = visited
    for (i <- 1 to maxDepth) {
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("d", lit(i)).cache()
      graft.Caches.track(next)
      visited = visited.unionByName(next).cache()
      graft.Caches.track(visited)
      frontier = next
    }
    visited
  }

  /** Bounded-hop weighted shortest paths — Bellman–Ford rounds over an
    * edge list (src, dst, w). After `rounds` rounds, d(v) = the minimum
    * total weight over paths of ≤ `rounds` edges from any seed (nodes
    * beyond that horizon are absent) — the weighted generalization of
    * [[bfsHops]] and the standard dataflow SSSP: each round is one
    * dist⋈edges relax join plus one min-aggregation, the two shuffles a
    * Pregel superstep pays. Negative weights are fine (the hop bound
    * replaces the no-negative-cycle requirement); same scale notes as
    * [[pageRank]] — bucketed edges make the relax join shuffle-free,
    * `localCheckpoint` every few rounds cuts lineage. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    locally {
      collectEdges(edges.select(col("src"), col("dst"), col("w")), seeds,
          withW = true) match {
        case Some((xs, ys, ws, ss, vals, _)) =>
          // Bellman–Ford with the SAME snapshot-per-round relaxation as the
          // dataflow form (relax reads the previous round's dist only), so
          // d(v) after k rounds = min weight over ≤ k-edge paths — identical
          // rows, including negative weights under the hop bound
          val n = vals.length
          val NoDist = Long.MinValue
          var dist = Array.fill(n)(NoDist)
          ss.foreach(s => dist(s) = 0L)
          var r = 0
          while (r < rounds) {
            val next = dist.clone()
            var e = 0
            while (e < xs.length) {
              val ds = dist(xs(e))
              if (ds != NoDist) {
                val cand = ds + ws(e)
                if (next(ys(e)) == NoDist || cand < next(ys(e))) next(ys(e)) = cand
              }
              e += 1
            }
            dist = next
            r += 1
          }
          val out = (0 until n).iterator.filter(dist(_) != NoDist)
            .map(i => org.apache.spark.sql.Row(vals(i), dist(i))).toIndexedSeq
          return localResult(edges.sparkSession, out,
            edges.schema("src").dataType,
            org.apache.spark.sql.types.LongType)
        case None => // unsupported shape — dataflow rounds below
      }
    }
    var dist = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0L)).cache()
    graft.Caches.track(dist)
    for (_ <- 1 to rounds) {
      val relax = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relax)
        .groupBy("node").agg(min("d").as("d")).cache()
      graft.Caches.track(dist)
    }
    dist
  }
}
