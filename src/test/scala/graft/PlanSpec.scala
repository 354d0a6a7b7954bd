package graft

/** Physical-plan regression guards: the scale-critical plan properties —
  * predicate pushdown into parquet scans, broadcast joins for dimensions,
  * top-k as TakeOrdered (never a global sort) — must survive refactors.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q6: all filters pushed into the lineitem parquet scan") {
    val p = plan("q6_revenue_delta")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_quantity,24.0)"),
      s"expected shipdate+quantity in PushedFilters:\n$p")
  }

  test("q3: dimension joins broadcast; top-k is TakeOrdered, not global sort") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ann1: query vector broadcast + TakeOrdered; vec_id filter pushed") {
    val p = plan("ann1_topk_dot")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters") && p.contains("EqualTo(vec_id,0)"), p)
  }

  test("fts4: postings scan filtered by query tokens before any shuffle") {
    val p = plan("fts4_ranked")
    assert(p.contains("TakeOrderedAndProject"), p)
    // token IN-filter must appear below the aggregation
    assert(p.contains("spark") && p.contains("merge"), s"token filter missing:\n$p")
  }

  test("fts3: enrichment aggregates only hit-scoped quads (broadcast semi-join)") {
    val p = plan("fts3_bm25_search")
    // hit keys broadcast + quads semi-joined BEFORE titles/describe aggs:
    // the collect_list/min aggregations must sit above a LeftSemi join
    assert(p.contains("LeftSemi"), s"expected hit-scoping semi-join:\n$p")
    val semiIdx = p.indexOf("LeftSemi")
    val aggIdx = p.indexOf("collect_list")
    assert(aggIdx >= 0, s"describe aggregation missing:\n$p")
    assert(p.contains("BroadcastExchange"), s"hit keys should broadcast:\n$p")
  }

  test("fts3: hit page folds, scores and merges inside the postings buckets; no corpus aggregate") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val page = graft.fts.FtsQueries.bm25Page(spark, sf0001)
    val p = page.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // the initial plan, exchanges included
      case other => other
    }
    def isPostings(n: SparkPlan) = n match {
      case s: FileSourceScanExec => s.tableIdentifier.exists(_.table.startsWith("graft_postings_"))
      case _ => false
    }
    // every operator chain from a merge Window down to the postings scan
    def chains(n: SparkPlan): Seq[List[SparkPlan]] =
      if (isPostings(n)) Seq(List(n))
      else n.children.flatMap(chains).map(n :: _)
    val windows = p.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"merge window missing:\n$p")
    val toScan = windows.flatMap(chains)
    assert(toScan.nonEmpty, s"no path from the merge window to the postings scan:\n$p")
    assert(!toScan.exists(_.exists(_.isInstanceOf[ShuffleExchangeExec])),
      s"exchange between the postings scan and the merge window:\n$p")
    val graphOnly = p.collect {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("graph_iri") &&
        a.collectLeaves().exists(isPostings) => a
    }
    assert(graphOnly.isEmpty, s"per-query aggregate keyed on graph_iri over the postings:\n$p")
  }

  test("sp1: default-graph BGP scans the materialized triples with no per-pattern dedup") {
    val p = plan("sp1_bgp")
    // pre-deduped store: the only aggregates allowed are none — a dedup would
    // show up as HashAggregate(keys=[s...]) pairs per pattern
    assert(!p.contains("HashAggregate"), s"unexpected dedup aggregate:\n$p")
    assert(p.contains("graft-store"), s"expected materialized store scan:\n$p")
    // constant predicate/object filters still reach the parquet scan
    assert(p.contains("PushedFilters"), p)
  }

  test("sp10: constant-GRAPH scan prunes graph buckets of the materialized quads") {
    val p = plan("sp10_graph")
    assert(p.contains("graph_bucket"), s"expected bucket predicate for pruning:\n$p")
    assert(p.contains("graft-store"), s"expected materialized store scan:\n$p")
  }

  test("sp12: VALUES/UNDEF compatibility join is equi-join branches, not BNLJ") {
    val p = plan("sp12_values_bind")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"compat join degraded to a nested loop:\n$p")
  }

  test("sp23: negated property set prunes predicate partitions of the store") {
    val p = plan("sp23_nps")
    // predicate is the triples table's partition column, so the NOT-IN
    // eliminates whole predicate directories at planning time — stronger
    // than the former row-group PushedFilters
    assert(p.contains("PartitionFilters: [NOT predicate"),
      s"NOT-IN did not become partition pruning:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("cr1: OR-set fold is a hash join + two-phase aggregate, no nested loop") {
    val p = plan("cr1_orset_fold")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("or1: orphan fixpoint evaluates once behind an RDD barrier, not per anti-join") {
    val p = plan("or1_orphan_filter")
    // the reachability fixpoint's lineage (which contains the edge semi-join)
    // must be hidden behind ONE cached-RDD barrier — if it were inlined per
    // consumer, the plan would carry the LeftSemi (and the whole closure
    // subtree) twice
    assert(!p.contains("LeftSemi"), s"fixpoint lineage inlined into the plan:\n$p")
    // the orphan set reads as a barrier scan (Catalyst may replicate the
    // anti-joins through the planted-quads union; every copy scans the SAME
    // cached RDD, so the fixpoint still runs once)
    assert(p.contains("Scan ExistingRDD"), s"expected the orphan-set barrier:\n$p")
    assert("LeftAnti".r.findAllIn(p).size >= 2, s"anti-joins missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dd6: corpus shingled once (cached array), no shingle self-join, no row explode") {
    val p = plan("dd6_lsh_verified")
    // the persisted shingle array must be the shared scan for signatures AND
    // both verify joins
    assert(p.contains("InMemoryTableScan"), s"shingle array not reused from cache:\n$p")
    // signatures derive from the array via higher-order functions: the only
    // Generate allowed is the band posexplode — a per-shingle explode is the
    // round-2 double-shingling regression (formatted explain prints the
    // generator as "Arguments: [pos]explode(...)")
    assert(p.contains("posexplode("), s"band explode missing:\n$p")
    assert(!p.contains(" explode("), s"per-shingle explode crept back:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dd2: minhash sigs cached, band join on the cache, no per-shingle explode") {
    val p = plan("dd2_minhash_lsh")
    // the shingle+md5 pass lives below ONE cache boundary; the band
    // self-join must read InMemoryTableScan on both sides, not re-run it
    assert(p.contains("InMemoryTableScan"), s"sigs not cached:\n$p")
    assert(!p.contains(" explode("), s"per-shingle explode crept back:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dd7: band join is skinny — vectors never ride the posexplode") {
    val p = plan("dd7_embed_cosine_lsh")
    // every Generate (the band posexplode) must carry exactly (vec_id, sig);
    // a 3+-column input means the quantized embedding array is being
    // replicated 4x through the bucket shuffle again
    val gens = """\(\d+\) Generate[^\n]*\nInput \[(\d+)\]""".r
      .findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(gens.nonEmpty, s"band posexplode missing:\n$p")
    assert(gens.forall(_ == 2), s"vectors riding the band explode (inputs $gens):\n$p")
    assert(p.contains("InMemoryTableScan"), s"signature pass not cached:\n$p")
  }

  test("dd18: adaptive-band twin keeps dd7's skinny band join + cached sigs") {
    val p = plan("dd18_embed_lsh_adaptive")
    val gens = """\(\d+\) Generate[^\n]*\nInput \[(\d+)\]""".r
      .findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(gens.nonEmpty && gens.forall(_ == 2),
      s"vectors riding the band explode (inputs $gens):\n$p")
    assert(p.contains("InMemoryTableScan"), s"signature pass not cached:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd19: adaptive-cell SemDeDup is a cell equi-join over the cached " +
    "assignment — no all-pairs") {
    val p = plan("dd19_semdedup_adaptive")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"), s"assignment pass not cached:\n$p")
  }

  test("cat7: one rank-pruned window pass + one grouping-sets expand") {
    val p = plan("cat7_usage_rebuild")
    val windows = """\(\d+\) Window\n""".r.findAllIn(p).size
    assert(windows == 1, s"head-selection window evaluated $windows times:\n$p")
    // the rank filter must push a partial WindowGroupLimit below the
    // shuffle (map-side top-1 per (bucket, key)) — without it the whole
    // object log crosses the wire (and a struct-max_by rewrite measured
    // ~1.5x slower; see ObjectTables.heads)
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown missing:\n$p")
    assert(p.contains("Expand"), s"expected GROUPING SETS expand:\n$p")
  }

  test("sp15: visibility scoping compiles to a broadcast semi-join") {
    val p = plan("sp15_visibility_anon")
    assert(p.contains("LeftSemi"), s"expected a semi-join for visibility:\n$p")
    assert(p.contains("Broadcast"), s"expected the visible-graph set broadcast:\n$p")
  }

  test("us2: unified search pushes token filters into the postings scan, top-k per section") {
    val p = plan("us2_unified")
    // documents sections must push their token IN-list into the parquet scan
    assert(p.contains("PushedFilters") && p.contains("In(token"),
      s"token filter not pushed into postings scan:\n$p")
    // per-section limits are top-k, never a global sort of a section table
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k sections:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in section compose:\n$p")
  }

  test("ann8: IVF knn join is a cell-key hash join with group-limit top-k") {
    val p = plan("ann8_knn_join_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF join must never be all-pairs:\n$p")
    // rank<=k pushes into the window as a group limit (partial before shuffle)
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("mm4: video metadata extraction is one narrow stage — no shuffle") {
    val p = plan("mm4_video_meta")
    // derive → parse is mapPartitions over the documents scan; the only
    // exchange allowed is the final presentation sort's
    val body = p.split("== Physical Plan ==").last.split("Sort").head
    assert(!body.contains("Exchange"), s"shuffle inside the extract stage:\n$p")
  }

  test("mm5: decode→resize→re-encode→decode chain is one narrow stage — no shuffle") {
    val p = plan("mm5_resize")
    // payload bytes must never cross an exchange: derive, resample, and
    // feature extraction all fuse into mapPartitions over the documents scan
    val body = p.split("== Physical Plan ==").last.split("Sort").head
    assert(!body.contains("Exchange"), s"shuffle inside the resize chain:\n$p")
  }

  test("ev15: incremental fold is broadcast anti-joins, no cartesian/BNLJ") {
    val p = plan("ev15_inc_postings")
    // per-batch stale-entry drop: touched-graph set broadcast to an anti-join
    assert(p.contains("LeftAnti"), s"expected anti-joins for touched graphs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"touched set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in incremental fold:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in incremental fold:\n$p")
  }

  test("zo1: z-layout stats are map-side bit math + one small-key agg — ≤2 shuffles") {
    val p = plan("zo1_zorder_layout")
    // bounds broadcast to every row (1-row relation), then partial+final agg
    // on ≤256 file ids + the output sort: nothing else may shuffle
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(
      p.split("== Physical Plan ==").last).length
    assert(exchanges <= 2, s"expected ≤2 shuffles (agg, sort), got $exchanges:\n$p")
  }

  test("hll1: sketch aggregates partially map-side — registers never ship raw keys") {
    val p = plan("hll1_distinct_sketch")
    // each sketch: HashAggregate(partial max rho) below the exchange, so the
    // shuffle carries ≤ m register rows per partition, not the key stream
    assert(p.contains("partial_max") || p.contains("max(rho"),
      s"expected map-side partial max of rho:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmv1: typed-Aggregator sketch runs a map-side partial — shuffle ships sketches, not keys") {
    val p = plan("kmv1_bottomk_sketch")
    // ObjectHashAggregate partial below the exchange, final above: the
    // shuffle carries one ≤k-long array per partition
    val body = p.split("== Physical Plan ==").last
    val n = "ObjectHashAggregate".r.findAllIn(body).length
    assert(n >= 2, s"expected partial+final ObjectHashAggregate pairs, got $n:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rrf1: both candidate lists are TakeOrdered (no global sort); fusion joins 2×depth rows") {
    val p = plan("rrf1_hybrid_rank")
    val body = p.split("== Physical Plan ==").last
    val takes = "TakeOrderedAndProject".r.findAllIn(body).length
    assert(takes >= 3, s"expected TakeOrdered for lex top-k, vec top-k and output, got $takes:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cm1: sketch-sized counter matrix broadcasts to the probe join") {
    val p = plan("cm1_countmin")
    assert(p.contains("BroadcastHashJoin"), s"counters should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cp1/rp1: planner windows run over metadata-sized relations only") {
    for (g <- Seq("cp1_compaction_plan", "rp1_range_plan")) {
      val p = plan(g)
      // the cumsum window must sit ABOVE the size/key aggregation (files /
      // key-histogram relation), never over the raw row stream
      val body = p.split("== Physical Plan ==").last
      val aggIdx = body.indexOf("HashAggregate")
      val winIdx = body.indexOf("Window")
      assert(winIdx >= 0 && aggIdx >= 0, s"$g missing window/agg:\n$p")
      assert(!p.contains("CartesianProduct"), s"$g:\n$p")
    }
  }

  test("rj1: bin rewrite turns the containment join into an equi-join — no nested loop") {
    val p = plan("rj1_range_bin")
    // the whole point of the bin bucketing: Spark must NOT fall back to the
    // O(n·m) plans a pure non-equi predicate forces
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment join fell back to a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash/merge equi-join found:\n$p")
  }

  test("cat6: backlink probe pushes its key into the materialized iri-index scan") {
    val p = plan("cat6_references")
    // the probe must hit Store.iriIndex (a parquet scan with the lookup key
    // in PushedFilters — row groups are clustered on it), NOT re-derive the
    // index by re-grouping the quads
    assert(p.contains("graft-store"), s"expected materialized iri-index scan:\n$p")
    assert(p.contains("EqualTo(predicate_iri") && p.contains("EqualTo(object_iri"),
      s"lookup key not pushed into the index scan:\n$p")
    assert(!p.contains("collect_set"),
      s"probe re-derived the index instead of scanning it:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q26: dims broadcast; top-k is TakeOrdered, not a global sort") {
    val p = plan("q26_returned_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hll4: window-merged registers aggregate partially map-side") {
    val p = plan("hll4_rolling_distinct")
    assert(p.contains("partial_max") || p.contains("max(rho"),
      s"expected map-side partial max of rho:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qf4: the tercile cumsum windows over the SCORE histogram, not the docs") {
    val p = plan("qf4_ccnet_buckets")
    // the only window orders by the distinct-score key — the doc relation
    // itself never enters a window operator (the 1-row total legitimately
    // rides a broadcast nested loop, so only cartesian is banned)
    assert(p.contains("windowspecdefinition(mean_surprisal_key"),
      s"cumsum window must run over the score histogram:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"doc relation must not enter a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sk1: both slices sort-merge (no broadcast); the hot join is salt-keyed") {
    val p = plan("sk1_salted_join")
    assert("SortMergeJoin".r.findAllMatchIn(p).size >= 2,
      s"expected two sort-merge joins (hot salted + cold):\n$p")
    assert(p.contains("salt"), s"salt key missing from the physical plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dpp: dim-side filter dynamically prunes predicate partitions of the store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = graft.Store.triplesBucketed(spark, sf0001)
    val preds = t.select("predicate").distinct().limit(2)
      .collect().map(_.getString(0))
    // the dim must be a SOURCED relation with a live Filter node — a local
    // Seq constant-folds its filter away and the pruning rule sees no
    // selective predicate
    val dimPath = java.nio.file.Files.createTempDirectory("dpp-dim").toString
    preds.zipWithIndex.toSeq.toDF("p", "grp")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("grp") === 0)
    val q = t.join(dim, t("predicate") === dim("p")).groupBy("p").count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition-pruning subquery on the fact scan:\n$p")
  }

  test("bf2: bloom predicate filters the fact scan below the join, no extra shuffle") {
    val p = plan("bf2_bloom_join")
    assert(p.contains("BroadcastHashJoin"), p)
    // the literal-array probe runs as a scan-side filter (codegen'd
    // element_at + shiftleft arithmetic), never behind an exchange
    assert(p.contains("element_at") && p.contains("shiftleft"),
      s"bloom filter arithmetic missing from the plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rc1: strategy catalog broadcasts; no cartesian anywhere in the sweep") {
    val p = plan("rc1_reclaim_sweep")
    assert(p.contains("BroadcastHashJoin"), s"strategies should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ds4: temperature rates ride a broadcast onto the corpus scan") {
    val p = plan("ds4_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), s"rates should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cat13/cat14: request joins hash-partition against the materialized versions store") {
    val p13 = plan("cat13_delete_objects")
    assert(p13.contains("graft-store"), s"expected materialized versions scan:\n$p13")
    assert(!p13.contains("CartesianProduct") && !p13.contains("BroadcastNestedLoopJoin"), p13)
    val p14 = plan("cat14_copy_conditions")
    assert(p14.contains("graft-store"), s"expected materialized versions scan:\n$p14")
    assert(!p14.contains("CartesianProduct") && !p14.contains("BroadcastNestedLoopJoin"), p14)
  }

  test("ql1: scan-cap rank rewrites to a map-side WindowGroupLimit (no full per-queue sort)") {
    val p = plan("ql1_queue_lag")
    // without the Partial group limit every row of a queue funnels into ONE
    // partition for a full sort — the sf10 probe measured 174 s; with it
    // only top-scanCap rows per queue per map task reach the shuffle
    assert(p.contains("WindowGroupLimit"), s"rank-limit rewrite missing:\n$p")
    assert(p.contains("Partial"), s"expected a map-side partial group limit:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"totals should broadcast:\n$p")
  }

  test("ds5/tx26: planner windows never move the corpus — only metadata-sized relations") {
    // ds5's water-filling windows run on the per-source aggregate
    val p5 = plan("ds5_epoch_plan")
    val aggIdx = p5.indexOf("HashAggregate")
    val winIdx = p5.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      s"epoch-plan windows must sit ABOVE the token aggregate:\n$p5")
    // tx26's interval windows partition on doc_id (parallel), never a
    // single global frame
    val p26 = plan("tx26_span_plan")
    assert(!p26.contains("Window [") ||
      !p26.substring(p26.indexOf("Window")).take(200).contains("partitionBy=[]"),
      s"span-plan windows must partition on doc_id:\n$p26")
    assert(!p26.contains("CartesianProduct"), p26)
  }

  test("rs1/rs2: config relations broadcast; queued-scan window is TakeOrdered; no cartesian over the corpus") {
    val p1 = plan("rs1_replica_targets")
    assert(p1.contains("BroadcastExchange"),
      s"relationships must broadcast onto the probes:\n$p1")
    val p2 = plan("rs2_blob_locations")
    assert(p2.contains("TakeOrderedAndProject"),
      s"the 1024-row queued scan cap must plan as TakeOrdered:\n$p2")
    assert(p2.contains("BroadcastExchange"), p2)
    assert(!p2.contains("CartesianProduct"),
      s"only the bounded holder/nodeset cross may be nested-loop:\n$p2")
  }

  test("jp1: a deep backlog scans a TakeOrdered prefix, never a global sort") {
    // the prefix path engages when the due slice exceeds 4×cap rows — build
    // one deep enough directly (the sf0.001 gate input takes the small path)
    import org.apache.spark.sql.functions._
    val idx = spark.range(0, 20000).select(
      col("id").as("expiry_ms"),
      lpad(col("id").cast("string"), 12, "0").as("job_id"),
      lit(false).as("malformed"), lit(true).as("exists"),
      lit(false).as("fenced"), lit(3).as("n_entries"),
      lit(false).as("rocrate"), lit(false).as("has_dedup"),
      lit(0).as("epochs"))
    val df = graft.catalog.JobPrune.pruneBatch(idx, nowMs = 30000L)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), s"prefix bound missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann13: anchors broadcast; per-anchor rank is a WindowGroupLimit") {
    val p = plan("ann13_hard_negatives")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"),
      s"rank-limit rewrite missing (full per-anchor sort):\n$p")
  }

  test("sft2/tx27: one keyed shuffle each — pairing/rollup rides a single Exchange") {
    val pS = plan("sft2_pref_pairs")
    assert(pS.sliding("Exchange".length).count(_ == "Exchange") <= 4, // incl. AQE reads
      s"preference pairs should need one prompt-keyed shuffle:\n$pS")
    assert(!pS.contains("CartesianProduct"), pS)
    val pC = plan("tx27_c4_rules")
    assert(!pC.contains("CartesianProduct") && !pC.contains("SortMergeJoin"),
      s"C4 rollup must not join at all:\n$pC")
  }

  test("drs1/au1: probe keys and rule docs broadcast — the store side never sort-merges") {
    val pD = plan("drs1_bulk_resolve")
    assert(pD.contains("BroadcastHashJoin"), pD)
    assert(!pD.contains("SortMergeJoin"),
      s"DRS resolve must not shuffle the version store:\n$pD")
    val pA = plan("au1_permission_decisions")
    assert(pA.contains("BroadcastHashJoin"), pA)
    assert(!pA.contains("SortMergeJoin") && !pA.contains("CartesianProduct"),
      s"authz decisions must ride broadcast rule arrays:\n$pA")
  }

  test("mz1/ivr1: queue folds join broadcast control-plane relations, never a cartesian") {
    // the materialization drain joins status/events/lifecycle/dead-letters
    // on keys; at 100 TB the JOBS side is the only large relation, so every
    // control-plane side must broadcast and the group windows partition
    // by doc_id (no global single-partition window)
    val pM = plan("mz1_materialization_drain")
    assert(pM.contains("BroadcastHashJoin"), pM)
    assert(!pM.contains("CartesianProduct") &&
      !pM.contains("BroadcastNestedLoopJoin"),
      s"materialization drain must stay equi-joined:\n$pM")
    val pI = plan("ivr1_incoming_negotiation")
    assert(pI.contains("BroadcastHashJoin"), pI)
    // the fixture's 40x4 range-cross (blob-location generation) is the
    // only permitted nested-loop: constant-bounded, no table on either
    // side; the FOLD joins themselves must all be hash joins
    assert(!pI.contains("CartesianProduct") && !pI.contains("SortMergeJoin"),
      s"negotiation ladder must stay hash-joined:\n$pI")
  }

  test("sv1: control-plane relations broadcast; the verify ladder stays equi-joined") {
    // pin the ladder itself on crossJoin-free inputs (the sv1 fixture's
    // 2x8 literal strategy-shard cross would otherwise dominate the plan)
    import spark.implicits._
    val holders = Seq(("s", 0L, 1, "n0"), ("s", 0L, 2, "n1"))
      .toDF("strategy_id", "shard", "rank", "node_id")
    val entries = Seq(("n0", "s", 0L)).toDF("node_id", "strategy_id", "shard")
      .selectExpr("node_id", "strategy_id", "shard",
        "CAST('k' AS BINARY) AS target_key", "CAST(1 AS BIGINT) AS generation",
        "unhex(md5('e')) AS event_id", "unhex(sha2('a', 256)) AS actor",
        "CAST(1 AS BIGINT) AS updated_at_ms")
    val topics = holders.selectExpr("node_id", "strategy_id", "shard",
      "true AS topic_exists", "'d' AS topic_digest")
    val markers = holders.limit(0).select("strategy_id", "shard", "node_id")
    val reachable = Seq(("n0", true), ("n1", true))
      .toDF("node_id", "is_reachable")
    val p = graft.catalog.ShardVerify
      .verify(holders, entries, topics, markers, reachable)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"verify ladder degraded to a nested loop:\n$p")
  }

  test("hd1/hd3/erc1: directory and ladder folds stay equi-joined per scenario") {
    for (name <- Seq("hd1_handle_directory", "hd3_cursor_draws",
        "erc1_ensure_realm_config")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name degraded to a nested loop:\n$p")
    }
  }

  test("bp1/bp2: the pool fold is one scenario-keyed hash aggregation") {
    for (name <- Seq("bp1_pool_validity", "bp2_coordinator_spans")) {
      val p = plan(name)
      assert(p.contains("hashpartitioning(sc_id"),
        s"$name must shuffle once by scenario:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("pg1: group-default admission is broadcast probes on the request " +
    "scan — no hash shuffle below the output sort, no nested loop") {
    val p = plan("pg1_group_routing_admission")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"admission must not hash-shuffle the request batch:\n$p")
  }

  test("pg3: admitted group defaults broadcast into the resolve ladder") {
    val p = plan("pg3_group_default_resolve")
    // the one nested loop allowed is the node-rules theta match (null =
    // match-all), whose build side is the config-sized rule table — rt1
    // carries the same shape; everything else must stay equi-joined
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r
      .findAllIn(p).size
    assert(bnlj <= 1, s"more than one nested loop in the resolve chain:\n$p")
  }

  test("pp2: production-path chain is all equi-joins — no cartesian, no nested loop") {
    val p = plan("pp2_production_path")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ex2: recognition reads only doc_id from the documents scan") {
    val p = plan("ex2_context_alias_recognition")
    // the crate fixture is synthesized from doc_id alone; a scan that
    // drags text/embedding columns through the flatMap would read ~all
    // of the table's bytes for a 1-column derivation
    val read = "ReadSchema: struct<doc_id:bigint>"
    assert(p.contains(read), s"documents scan not pruned to doc_id:\n$p")
  }

  test("im1/im2: import folds read only doc_id; targets co-group without a cartesian") {
    val p1 = plan("im1_import_validate")
    val read = "ReadSchema: struct<doc_id:bigint>"
    assert(p1.contains(read), s"documents scan not pruned to doc_id:\n$p1")
    val p2 = plan("im2_import_rewrite")
    assert(p2.contains(read), s"documents scan not pruned to doc_id:\n$p2")
    // per-crate targets meet their crate on the crate_id equi-join only
    assert(!p2.contains("CartesianProduct"), p2)
    assert(!p2.contains("BroadcastNestedLoopJoin"), p2)
  }

  test("ann15: exact ground truth is computed once and reused across the sweep") {
    val p = plan("ann15_recall_curve")
    // the persisted exact side must appear as InMemoryTableScan in the
    // per-nprobe branches — re-deriving it per point would quintuple the
    // by-contract exact cost
    assert(p.contains("InMemoryTableScan"),
      s"exact knn side not reused from cache:\n$p")
    assert(p.contains("BroadcastExchange"), p) // probe vectors broadcast
  }
}
