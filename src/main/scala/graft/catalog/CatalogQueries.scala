package graft.catalog

import graft.index.IriIndex
import graft.sparql.RdfTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog operators for the driver gate: ListObjectsV2 (delimiter grouping,
  * start_after paging), ListObjectVersions (is_latest), bucket search,
  * IRI backlinks + references join, usage rebuild + incremental delta apply.
  */
object CatalogQueries {

  private val ConformsTo = RdfTables.ConformsTo

  /** The versions keyspace, persisted for the life of ONE gate invocation
    * (registered with [[graft.Caches]], like every gate-local cache).
    * The request-batch gates read the store 4-8× (request branches + the
    * heads/by-version sides of the resolution ladder) and each read
    * re-decoded the parquet — the dominant cost of goa1/cat15/cat13/cat14/
    * cat16/upc1 (r13 optimization, guide §5 "reused AND recomputing is
    * more expensive"). One in-memory decode serves every branch. */
  private def versionsStoreCached(s: SparkSession, d: String): DataFrame = {
    val v = ObjectTables.versionsStore(s, d).persist()
    graft.Caches.track(v)
    v
  }

  /** Replication-queue insert log fixture (rq1/rq2): ~57 re-enqueues per
    * identity so the preferred-record fold has real work. */
  private def replInserts(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d).select(
      concat(lit("m"), (col("o_orderkey") % 3).cast("string"),
        lit(":bkt-"), (col("o_custkey") % 4).cast("string"),
        lit(":t"), (col("o_custkey") % 11).cast("string"),
        lit(":"), (col("o_orderkey") % 2).cast("string")).as("ident"),
      (col("o_orderkey") % 5).cast("long").as("attempts"),
      (lit(1700000000000L) +
        (((col("o_custkey") % 4) * 3 + (col("o_custkey") % 11) * 5 +
          col("o_orderkey") % 3 + (col("o_orderkey") % 2) * 7) % 13) * 40000 +
        (col("o_custkey") % 3) * 1000).as("due_at_ms"),
      col("o_orderkey").cast("long").as("seq"))

  private val replInsertsCte: String =
    """ins AS (
      |  SELECT 'm'||(o_orderkey%3)||':bkt-'||(o_custkey%4)||':t'||
      |           (o_custkey%11)||':'||(o_orderkey%2) AS ident,
      |         CAST(o_orderkey%5 AS BIGINT) AS attempts,
      |         1700000000000 +
      |           (((o_custkey%4)*3 + (o_custkey%11)*5 + o_orderkey%3 +
      |             (o_orderkey%2)*7) % 13) * 40000 +
      |           (o_custkey%3)*1000 AS due_at_ms,
      |         CAST(o_orderkey AS BIGINT) AS seq
      |  FROM orders
      |)""".stripMargin

  /** Shard-verification fixture (sv1): 2 strategies × 8 shards with 1-3
    * holders each (rank by formula), manifest entries derived per doc from
    * orders (doc → placement by (o div 2) % 8), a planted rank-2 generation
    * divergence (o % 7600 == 0 → all land in shard 0 of sA), a rank-2 topic
    * digest fork on shard 4, n1's topic missing on shard % 6 == 1 (covers
    * the sole-holder-deferred AND the local-genesis-gate-with-co arms),
    * rank-1 markers on shard 6, and node n4 unreachable (no-reachable-co
    * arm at (sA,2) where n2's only peer is n4). */
  private def shardVerifyFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val pl = Seq("sA", "sB").toDF("strategy_id")
      .crossJoin(Seq.range(0, 8).toDF("shard"))
      .withColumn("shard", col("shard").cast("long"))
      .withColumn("base",
        when(col("strategy_id") === "sA", 0L).otherwise(3L))
    val holders = pl.select(col("strategy_id"), col("shard"),
        posexplode(array(
          concat(lit("n"), ((col("base") + col("shard")) % 6)
            .cast("string")),
          when(col("shard") % 4 =!= 1,
            concat(lit("n"), ((col("base") + col("shard") + 2) % 6)
              .cast("string"))),
          when(col("shard") % 3 === 0,
            concat(lit("n"), ((col("base") + col("shard") + 4) % 6)
              .cast("string"))))))
      .filter(col("col").isNotNull)
      .select(col("strategy_id"), col("shard"), col("col").as("node_id"),
        col("pos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("strategy_id", "shard").orderBy("pos")))
      .drop("pos")
    val docs = graft.Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o"))
      .select(col("o"),
        when(col("o") % 2 === 0, "sA").otherwise("sB").as("strategy_id"),
        expr("CAST((o div 2) % 8 AS BIGINT)").as("shard"))
    val entries = docs.join(holders, Seq("strategy_id", "shard"))
      .select(col("node_id"), col("strategy_id"), col("shard"),
        concat(lit("doc-"), col("o").cast("string")).cast("binary")
          .as("target_key"),
        (col("o") % 5 + 1 +
          when(col("rank") === 2 && col("o") % 7600 === 0, 1L)
            .otherwise(0L)).cast("long").as("generation"),
        unhex(md5(concat(lit("ev"), col("o").cast("string"))))
          .as("event_id"),
        unhex(sha2(concat(lit("ac"), (col("o") % 7).cast("string")), 256))
          .as("actor"),
        (lit(1700000000000L) + col("o")).as("updated_at_ms"))
    val topics = holders.select(col("node_id"), col("strategy_id"),
      col("shard"),
      not(col("node_id") === "n1" && col("shard") % 6 === 1)
        .as("topic_exists"),
      md5(concat(col("strategy_id"), col("shard").cast("string"),
        when(col("shard") % 5 === 4 && col("rank") === 2, "x")
          .otherwise(""))).as("topic_digest"))
    val markers = holders.filter(col("rank") === 1 && col("shard") % 7 === 6)
      .select(col("node_id"), col("strategy_id"), col("shard"))
    val reachable = Seq.range(0, 6).toDF("i")
      .select(concat(lit("n"), col("i").cast("string")).as("node_id"),
        (col("i") =!= 4).as("is_reachable"))
    (holders, entries, topics, markers, reachable)
  }

  /** Handle-range directory fixture (hd1/hd2): ~7 grants per scenario over
    * 24 slots of 512 with widths 256..768 — interval overlaps from wide
    * grants crossing slots, plus a planted same-id divergent second value
    * (shifted start, rotated owner) for o % 13 == 5. */
  private def handleRangesFixture(s: SparkSession, d: String): DataFrame = {
    val base = graft.Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o"))
      .filter(col("o") % 11 === 5)
    val main = base.select(
      (col("o") % 199).as("sc_id"),
      concat(lit("r"), expr("(o div 199) % 17").cast("string"))
        .as("range_id"),
      concat(lit("n"), (col("o") % 3).cast("string")).as("owner"),
      (expr("(o div 3) % 24") * 512L + 3L).as("start"),
      (expr("(o div 3) % 24") * 512L + 259L + (col("o") % 3) * 256L)
        .as("end"))
    val divergent = base.filter(col("o") % 13 === 5).select(
      (col("o") % 199).as("sc_id"),
      concat(lit("r"), expr("(o div 199) % 17").cast("string"))
        .as("range_id"),
      concat(lit("n"), ((col("o") + 1) % 3).cast("string")).as("owner"),
      (expr("(o div 3) % 24") * 512L + 131L).as("start"),
      (expr("(o div 3) % 24") * 512L + 387L).as("end"))
    main.union(divergent)
  }

  /** Narrow-band variant for hd3 (slot spacing 4, widths 2..6) so the full
    * cursor draw sequence stays output-sized. */
  private def handleDrawsFixture(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o"))
      .filter(col("o") % 11 === 5)
      .select(
        (col("o") % 199).as("sc_id"),
        concat(lit("r"), expr("(o div 199) % 17").cast("string"))
          .as("range_id"),
        concat(lit("n"), (col("o") % 3).cast("string")).as("owner"),
        (expr("(o div 3) % 24") * 4L + 3L).as("start"),
        (expr("(o div 3) % 24") * 4L + 5L + col("o") % 5).as("end"))

  /** Band-pool lineage fixture (bp1/bp2/bp3): each scenario draws up to 12
    * structurally distinct pools — a full root, a depth-3 delegation chain,
    * overlapping siblings, a forged issuer, an orphan child, a malformed
    * root, a 2-cycle, a non-self-issued root, a span-escaping child, and a
    * rival root overlapping the full root. Duplicate (sc, idx) draws plant
    * the occurrence-duplicate arm; missing idx values plant collapsed
    * subtree arms. */
  private def bandPoolsFixture(s: SparkSession, d: String): DataFrame = {
    val sOf = (xs: Seq[String]) => array(xs.map {
      case null => lit(null).cast("string")
      case v => lit(v)
    }: _*)
    val lOf = (xs: Seq[Long]) => array(xs.map(lit(_)): _*)
    val base = graft.Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o"))
      .filter(col("o") % 11 === 7)
      .select((col("o") % 131).as("sc_id"),
        expr("CAST((o div 131) % 12 AS INT)").as("idx"))
      .distinct()
    // planted occurrence-duplicate: a second identical p0 row invalidates
    // the id (pool_by_id fails on 2 occurrences) and collapses the subtree
    base.union(base.filter(col("sc_id") % 13 === 3 && col("idx") === 0))
      .select(col("sc_id"),
        concat(lit("p"), col("idx").cast("string")).as("pool_id"),
        element_at(sOf(Seq(null, "p0", "p1", "p0", "p0", "p99", null,
          "p8", "p7", null, "p1", null)), col("idx") + 1).as("parent"),
        element_at(sOf(Seq("a", "a", "b", "a", "x", "a", "f", "g", "g",
          "h", "b", "k")), col("idx") + 1).as("issuer"),
        element_at(sOf(Seq("a", "b", "c", "d", "x", "e", "f", "g", "g",
          "i", "j", "k")), col("idx") + 1).as("owner"),
        when(col("idx") === 6, 0L).otherwise(
          element_at(lOf(Seq(0L, 100L, 150L, 250L, 400L, 500L, 0L, 600L,
            600L, 700L, 250L, 900L)), col("idx") + 1) * 1024L + 3L)
          .as("start"),
        (element_at(lOf(Seq(1023L, 300L, 200L, 350L, 450L, 550L, 1L, 650L,
          650L, 750L, 350L, 950L)), col("idx") + 1) * 1024L + 3L)
          .as("end"))
  }

  /** Admission probes (bp3): nine arms per scenario against its pool store
    * — accept-child, missing-parent, forged-issuer, self-root, alien-root,
    * malformed, origin-mismatch, span-escape, child-of-invalid-parent. */
  private def bandPoolProbes(scs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{array => arr}
    val sOf = (xs: Seq[String]) => arr(xs.map {
      case null => lit(null).cast("string")
      case v => lit(v)
    }: _*)
    val lOf = (xs: Seq[Long]) => arr(xs.map(lit(_)): _*)
    val probes = scs.crossJoin(
      scs.sparkSession.range(0, 9)
        .select(col("id").cast("int").as("inc_idx")))
    probes.select(col("sc_id"), col("inc_idx"),
      concat(lit("q"), col("inc_idx").cast("string")).as("pool_id"),
      element_at(sOf(Seq("p1", "p77", "p0", null, null, null, null, "p1",
        "p4")), col("inc_idx") + 1).as("parent"),
      element_at(sOf(Seq("b", "a", "x", "z2", "z3", "z5", "z2", "b",
        "x")), col("inc_idx") + 1).as("issuer"),
      element_at(sOf(Seq("z", "z", "z", "z2", "z4", "z5", "z2", "z6",
        "z7")), col("inc_idx") + 1).as("owner"),
      when(col("inc_idx") === 5, 1L).otherwise(
        element_at(lOf(Seq(210L, 500L, 420L, 980L, 960L, 0L, 985L, 250L,
          410L)), col("inc_idx") + 1) * 1024L + 3L).as("start"),
      (element_at(lOf(Seq(240L, 510L, 440L, 990L, 970L, 1L, 995L, 350L,
        440L)), col("inc_idx") + 1) * 1024L + 3L).as("end"),
      element_at(sOf(Seq("b", "a", "x", "z2", "z3", "z5", "q", "b", "x")),
        col("inc_idx") + 1).as("origin"))
  }

  /** EnsureRealmConfig fixture (erc1): 151 scenarios spanning every ladder
    * arm — absent doc ± create, raw-doc kind mismatch, reducer target
    * mismatch, node/range noops, reused vs minted grants (incl. a
    * conflicted usable grant), coordinator-pool-missing, handle-space
    * exhaustion, blocked bindings, missing strategy, transfer slices
    * (success, too-short-run, target-already-pooled), and the one
    * all-noop scenario (sc=66). */
  private def ensureRealmFixture(s: SparkSession, d: String)
      : Seq[DataFrame] = {
    val scs = graft.Tables.orders(s, d)
      .select((col("o_orderkey") % 151).cast("long").as("sc_id")).distinct()
    val sc = col("sc_id")
    val target = when(sc % 4 === 0, "A").otherwise("T")
    val kind = when(sc % 3 === 0, "management").otherwise("storage")
    val reqs = scs.select(sc, lit("A").as("actor"), target.as("target"),
      kind.as("kind"),
      (sc % 2 === 0).as("create_if_missing"),
      (sc % 5 =!= 4).as("reject_kind_mismatch"),
      (sc % 17 =!= 0).as("doc_exists"),
      (sc % 4 =!= 1).as("reducer_exists"),
      (sc % 23 === 11).as("target_mismatch"),
      (sc % 37 =!= 13).as("has_strategy"))
    val nodes = scs.filter(sc % 7 === 2)
      .select(sc, target.as("node_id"),
        when(sc % 3 === 0, "storage").otherwise("management").as("kind"))
      .union(scs.filter(sc % 7 === 3)
        .select(sc, target.as("node_id"), kind.as("kind")))
    val pools = scs.filter(sc % 19 =!= 6)
      .select(sc, lit("pA1").as("pool_id"),
        lit(null).cast("string").as("parent"), lit("A").as("issuer"),
        lit("A").as("owner"), lit(3L).as("start"), lit(6147L).as("end"))
      .union(scs.filter(sc % 6 < 3).select(sc, lit("pA2"),
        lit(null).cast("string"), lit("A"), lit("A"), lit(8195L),
        lit(10243L)))
      .union(scs.filter(sc % 9 === 3).select(sc, lit("pT"),
        lit(null).cast("string"), lit("T"), lit("T"), lit(12291L),
        lit(14339L)))
    val grants = scs.filter(sc % 8 === 1 || sc % 8 === 2)
      .select(sc, lit("g1").as("range_id"), lit("T").as("owner"),
        lit(2051L).as("start"), lit(3075L).as("end"))
      .union(scs.filter(sc % 8 === 1).select(sc, lit("g2"), lit("B"),
        lit(2560L), lit(3100L)))
      .union(scs.filter(sc % 3 > 0).select(sc, lit("g3"), lit("A"),
        lit(3L), lit(3L) + (sc % 3) * 1024L))
      .union(scs.filter(sc % 31 === 21).select(sc, lit("g4"), lit("B"),
        lit(3L), lit(15363L)))
    val bindings = scs.filter(sc % 13 === 1 || sc % 13 === 5)
      .select(sc, lit(2051L).as("handle"))
    val matNodes = scs.filter(sc % 6 === 0)
      .select(sc, target.as("node_id"), kind.as("kind"))
    val nodeConflicts = scs.filter(sc % 29 === 7)
      .select(sc, target.as("node_id"))
    val matRanges = scs.filter(sc % 16 < 8)
      .select(sc, lit("g1").as("range_id"))
    Seq(reqs, nodes, pools, grants, bindings, matNodes, nodeConflicts,
      matRanges)
  }

  /** PutBucketRouting admission fixture (rt2/rt3): requests over five
    * groups and seven buckets (bkt-6 unstored, grp-3's inputs load fails,
    * bkt-1 owned by grp-3 so everyone else group-mismatches there), with
    * 0..3 rules per request cycling through every admission arm. */
  private def routingAdmissionFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      .filter(col("o") % 37 === 1)
    val reqs = o.select(col("o").as("req_id"),
      concat(lit("grp-"), (col("o") % 5).cast("string")).as("group_id"),
      concat(lit("bkt-"), (col("o") % 7).cast("string")).as("bucket"))
    val idx = Seq(0, 1, 2).toDF("rule_idx")
    // o%3==0 requests draw the FULL arm vocabulary (incl. every invalid
    // spelling); the rest draw valid-only targets so multi-rule vectors
    // actually get admitted and rt3's store carries class AND group rules
    // (gb-3 is grp-2-owned, so it still trips foreign_backend elsewhere)
    val full = col("o") % 3 === 0
    val ktF = ((col("o") * 3 + col("rule_idx")) % 11 + 1).cast("int")
    val ktV = ((col("o") * 3 + col("rule_idx")) % 5 + 1).cast("int")
    val rules = o.crossJoin(broadcast(idx))
      .filter(col("rule_idx") < col("o") % 4)
      .select(col("o").as("req_id"), col("rule_idx"),
        element_at(array(lit("a/"), lit("b/"), lit("a/"), lit(""),
          lit("deep/path/")),
          ((col("o") + col("rule_idx")) % 5 + 1).cast("int"))
          .as("key_prefix"),
        ((col("o") + col("rule_idx")) % 7 < 2).as("exact"),
        when(full, element_at(array(lit("class"), lit("class"),
          lit("class"), lit("node"), lit("group"), lit("group"),
          lit("group"), lit("class"), lit("class"), lit("class"),
          lit("class")), ktF))
          .otherwise(element_at(array(lit("class"), lit("class"),
            lit("group"), lit("group"), lit("group")), ktV)).as("kind"),
        when(full, element_at(array(lit("hot"), lit("cold-2"), lit("HOT"),
          lit("ssd-a"), lit("gb-1"), lit("gb-2"), lit("gb-9"),
          lit("co ld"), lit("hot"), lit(""), lit("x" * 33)), ktF))
          .otherwise(element_at(array(lit("hot"), lit("cold-2"),
            lit("gb-1"), lit("gb-2"), lit("gb-3")), ktV)).as("target"))
    val groupBackends = Seq(("grp-0", "gb-1"), ("grp-1", "gb-1"),
      ("grp-1", "gb-2"), ("grp-2", "gb-3"), ("grp-4", "gb-1"))
      .toDF("group_id", "backend_id")
    val buckets = Seq(("bkt-0", "grp-0"), ("bkt-1", "grp-3"),
      ("bkt-2", "grp-2"), ("bkt-3", "grp-1"), ("bkt-4", "grp-4"),
      ("bkt-5", "grp-0")).toDF("bucket", "owner_group")
    val unavailable = Seq("grp-3").toDF("group_id")
    (reqs, rules, groupBackends, buckets, unavailable)
  }

  /** PutGroupRouting fixture: a write batch over the o%11 target
    * vocabulary (valid classes, a node target, owned / disabled / dangling
    * / unregistered group backends, the clear, invalid class spellings)
    * against a config-plane backend index with a disabled row (grp-1's
    * gb-2) and a dangling row (gb-3 under grp-2's prefix, record moved to
    * grp-5), plus one loader-failure group (grp-3). */
  private def groupRoutingFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      .filter(col("o") % 41 === 5)
    val reqs = o.select(col("o").as("req_id"),
      concat(lit("grp-"), (col("o") % 6).cast("string")).as("group_id"),
      element_at(array(lit("class"), lit("class"), lit("class"),
        lit("node"), lit("group"), lit("group"), lit(null).cast("string"),
        lit("class"), lit("group"), lit("group"), lit("class")),
        (col("o") % 11 + 1).cast("int")).as("kind"),
      element_at(array(lit("hot"), lit("cold-2"), lit("archive"),
        lit("ssd-a"), lit("gb-1"), lit("gb-2"), lit(null).cast("string"),
        lit("Hot!"), lit("gb-9"), lit("gb-3"), lit("")),
        (col("o") % 11 + 1).cast("int")).as("target"))
    val backendIndex = Seq(
      ("grp-0", "grp-0", "gb-1", false),
      ("grp-1", "grp-1", "gb-1", false),
      ("grp-1", "grp-1", "gb-2", true), // disabled: cannot be routed to
      ("grp-2", "grp-2", "gb-2", false),
      ("grp-2", "grp-5", "gb-3", false), // dangling: record moved away
      ("grp-4", "grp-4", "gb-1", false),
      ("grp-4", "grp-4", "gb-2", false))
      .toDF("idx_group_id", "record_group_id", "backend_id", "disabled")
    val unavailable = Seq("grp-3").toDF("group_id")
    (reqs, backendIndex, unavailable)
  }

  /** Oracle twin of `routingAdmissionFixture` + the admission fold.
    * Error structs are encoded as sortable strings (6-digit rule index,
    * pass digit, `code:detail`) — none of the fixture details contain a
    * colon. `radmit` ends with per-request (verdict, error, detail,
    * n_rules). */
  private val routingAdmissionCte: String =
    """radm AS (
      |  SELECT o_orderkey AS req_id,
      |    'grp-'||(o_orderkey%5) AS group_id,
      |    'bkt-'||(o_orderkey%7) AS bucket
      |  FROM orders WHERE o_orderkey%37 = 1),
      |rrules AS (
      |  SELECT req_id, i AS rule_idx,
      |    CASE (req_id+i)%5 WHEN 0 THEN 'a/' WHEN 1 THEN 'b/'
      |      WHEN 2 THEN 'a/' WHEN 3 THEN '' ELSE 'deep/path/' END
      |      AS key_prefix,
      |    (req_id+i)%7 < 2 AS exact,
      |    CASE WHEN req_id%3 = 0 THEN
      |      CASE WHEN (req_id*3+i)%11 = 3 THEN 'node'
      |           WHEN (req_id*3+i)%11 IN (4,5,6) THEN 'group'
      |           ELSE 'class' END
      |    ELSE CASE WHEN (req_id*3+i)%5 >= 2 THEN 'group'
      |         ELSE 'class' END END AS kind,
      |    CASE WHEN req_id%3 = 0 THEN
      |      CASE (req_id*3+i)%11 WHEN 0 THEN 'hot' WHEN 1 THEN 'cold-2'
      |        WHEN 2 THEN 'HOT' WHEN 3 THEN 'ssd-a' WHEN 4 THEN 'gb-1'
      |        WHEN 5 THEN 'gb-2' WHEN 6 THEN 'gb-9' WHEN 7 THEN 'co ld'
      |        WHEN 8 THEN 'hot' WHEN 9 THEN '' ELSE repeat('x', 33) END
      |    ELSE CASE (req_id*3+i)%5 WHEN 0 THEN 'hot' WHEN 1 THEN 'cold-2'
      |      WHEN 2 THEN 'gb-1' WHEN 3 THEN 'gb-2' ELSE 'gb-3' END END
      |      AS target
      |  FROM radm, (VALUES (0),(1),(2)) t(i) WHERE i < req_id%4),
      |rgb AS (SELECT * FROM (VALUES ('grp-0','gb-1'),('grp-1','gb-1'),
      |  ('grp-1','gb-2'),('grp-2','gb-3'),('grp-4','gb-1'))
      |  t(group_id, backend_id)),
      |rbkt AS (SELECT * FROM (VALUES ('bkt-0','grp-0'),('bkt-1','grp-3'),
      |  ('bkt-2','grp-2'),('bkt-3','grp-1'),('bkt-4','grp-4'),
      |  ('bkt-5','grp-0')) t(bucket, owner_group)),
      |rjudged AS (
      |  SELECT r.req_id, r.rule_idx, r.key_prefix, r.kind, r.target,
      |    row_number() OVER (PARTITION BY r.req_id, r.exact, r.key_prefix
      |      ORDER BY r.rule_idx) > 1 AS dup,
      |    r.kind = 'class'
      |      AND NOT regexp_matches(r.target, '^[a-z0-9-]{1,32}$')
      |      AS class_bad,
      |    g.backend_id IS NOT NULL AS owned
      |  FROM rrules r
      |  JOIN radm q ON q.req_id = r.req_id
      |  LEFT JOIN rgb g ON g.group_id = q.group_id
      |    AND g.backend_id = r.target),
      |rfold AS (
      |  SELECT req_id,
      |    min(CASE WHEN dup THEN lpad(CAST(rule_idx AS VARCHAR),6,'0') ||
      |          '0duplicate_rule:'||key_prefix
      |        WHEN class_bad THEN lpad(CAST(rule_idx AS VARCHAR),6,'0') ||
      |          '1invalid_class:'||target END) AS e1,
      |    min(CASE WHEN kind = 'node'
      |          THEN lpad(CAST(rule_idx AS VARCHAR),6,'0') ||
      |            '0operator_backend_target:'
      |        WHEN kind = 'group' AND NOT owned
      |          THEN lpad(CAST(rule_idx AS VARCHAR),6,'0') ||
      |            '0foreign_backend:'||target END) AS e2,
      |    count(*) AS n_rules
      |  FROM rjudged GROUP BY 1),
      |radmit AS (
      |  SELECT q.req_id, q.bucket, q.group_id,
      |    CASE WHEN q.group_id = 'grp-3' THEN 'inputs_unavailable:'
      |      WHEN f.e1 IS NOT NULL THEN substring(f.e1, 8)
      |      WHEN f.e2 IS NOT NULL THEN substring(f.e2, 8)
      |      WHEN b.owner_group IS NULL THEN 'no_such_bucket:'
      |      WHEN b.owner_group <> q.group_id THEN 'group_mismatch:'
      |    END AS err,
      |    COALESCE(f.n_rules, 0) AS n_rules
      |  FROM radm q
      |  LEFT JOIN rfold f ON f.req_id = q.req_id
      |  LEFT JOIN rbkt b ON b.bucket = q.bucket)""".stripMargin

  /** Oracle twin of `groupRoutingFixture` + the PutGroupRouting admission
    * fold (`pgadm` ends with per-request err as `code:detail` — no fixture
    * detail contains a colon) and the last-ok-write-wins store (`pgstore`). */
  private val groupRoutingCte: String =
    """pgreq AS (
      |  SELECT o_orderkey AS req_id,
      |    'grp-'||(o_orderkey%6) AS group_id,
      |    CASE o_orderkey%11 WHEN 3 THEN 'node'
      |      WHEN 4 THEN 'group' WHEN 5 THEN 'group' WHEN 6 THEN NULL
      |      WHEN 8 THEN 'group' WHEN 9 THEN 'group' ELSE 'class' END
      |      AS kind,
      |    CASE o_orderkey%11 WHEN 0 THEN 'hot' WHEN 1 THEN 'cold-2'
      |      WHEN 2 THEN 'archive' WHEN 3 THEN 'ssd-a' WHEN 4 THEN 'gb-1'
      |      WHEN 5 THEN 'gb-2' WHEN 6 THEN NULL WHEN 7 THEN 'Hot!'
      |      WHEN 8 THEN 'gb-9' WHEN 9 THEN 'gb-3' ELSE '' END AS target
      |  FROM orders WHERE o_orderkey%41 = 5),
      |pgown AS (SELECT * FROM (VALUES ('grp-0','gb-1'),('grp-1','gb-1'),
      |  ('grp-2','gb-2'),('grp-4','gb-1'),('grp-4','gb-2'))
      |  t(group_id, backend_id)),
      |pgadm AS (
      |  SELECT r.req_id, r.group_id, r.kind, r.target,
      |    CASE WHEN r.group_id = 'grp-3' THEN 'inputs_unavailable:'
      |      WHEN r.kind = 'node' THEN 'operator_backend_target:'
      |      WHEN r.kind = 'group' AND ow.backend_id IS NULL
      |        THEN 'foreign_backend:'||r.target
      |      WHEN r.kind = 'class'
      |        AND NOT regexp_matches(r.target, '^[a-z0-9-]{1,32}$')
      |        THEN 'invalid_class:'||r.target
      |    END AS err
      |  FROM pgreq r LEFT JOIN pgown ow
      |    ON ow.group_id = r.group_id AND ow.backend_id = r.target),
      |pgwin AS (SELECT group_id, max(req_id) AS set_by FROM pgadm
      |  WHERE err IS NULL GROUP BY 1),
      |pgstore AS (
      |  SELECT w.group_id, w.set_by, r.kind, r.target
      |  FROM pgwin w JOIN pgreq r ON r.req_id = w.set_by)""".stripMargin

  /** Crate fixture for the im1/im2 import-rewrite gates: per document one
    * RO-Crate JSON in one of three `@context` flavors (plain 1.2; 1.1 with
    * `@graph`/`@id` keyword aliases; 1.2 with object-def id alias, an
    * aliased `@type` key and `contentUrl`/`localPath` terms mapped AWAY so
    * the rewrite must fall back to absolute-IRI keys), with arms for raw
    * ids that need percent-encoding referenced by their encoded spelling
    * (mixed-spelling matching), an unsupported crate version, a duplicate
    * File definition, a plain-string reference (warning), a pre-existing
    * localPath (prepend merge), and a second File entity. */
  private def importCrates(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    val n = col("doc_id").cast("string")
    val mainRaw = when(col("doc_id") % 4 === 1,
        concat(lit("./f "), n, lit(" b.txt")))
      .otherwise(concat(lit("data/"), n, lit(".txt")))
    val mainEnc = when(col("doc_id") % 4 === 1,
        concat(lit("./f%20"), n, lit("%20b.txt")))
      .otherwise(concat(lit("data/"), n, lit(".txt")))
    val ver = when(col("doc_id") % 9 === 4, lit("9.9"))
      .when(col("doc_id") % 3 === 1, lit("1.1")).otherwise(lit("1.2"))
    def crate(ctx: String, graphK: String, idK: String, typeK: String,
        typeVal: String) =
      concat(
        lit(s"""{$ctx"$graphK": [{"$idK": "ro-crate-metadata.json", "$typeK": "CreativeWork", "about": {"$idK": "./"}, "conformsTo": {"$idK": "https://w3id.org/ro/crate/"""),
        ver,
        lit(s""""}}, {"$idK": "./", "$typeK": "Dataset", "name": "crate-"""),
        n,
        lit(s"""", "datePublished": "2026-07-23", "hasPart": [{"$idK": """"),
        mainEnc, lit("\"}"),
        when(col("doc_id") % 7 === 0,
          concat(lit(s""", {"$idK": "data/x"""), n, lit(""".png"}""")))
          .otherwise(lit("")),
        lit("]"),
        when(col("doc_id") % 6 === 2,
          concat(lit(""", "seeAlso": """"), mainEnc, lit("\"")))
          .otherwise(lit("")),
        lit(s"""}, {"$idK": """"), mainRaw,
        lit(s"""", "$typeK": "$typeVal", "name": "f""""),
        when(col("doc_id") % 8 === 3,
          concat(lit(""", "localPath": "old/p"""), n, lit(".txt\"")))
          .otherwise(lit("")),
        lit("}"),
        when(col("doc_id") % 7 === 0,
          concat(lit(s""", {"$idK": "data/x"""), n,
            lit(s""".png", "$typeK": "$typeVal", "name": "x"}""")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 5,
          concat(lit(s""", {"$idK": """"), mainRaw,
            lit(s"""", "$typeK": "$typeVal", "name": "dup"}""")))
          .otherwise(lit("")),
        lit("]}"))
    val f0 = crate(""""@context": "https://w3id.org/ro/crate/1.2/context", """,
      "@graph", "@id", "@type", "File")
    val f1 = crate(
      """"@context": ["https://w3id.org/ro/crate/1.1/context", {"graphItems": "@graph", "idAlias": "@id"}], """,
      "graphItems", "idAlias", "@type", "File")
    val f2 = crate(
      """"@context": ["https://w3id.org/ro/crate/1.2/context", {"ident": {"@id": "@id"}, "typ": "@type", "contentUrl": "http://example.org/notacontent", "localPath": "http://example.org/notapath"}], """,
      "@graph", "ident", "typ", "MediaObject")
    docs.select(col("doc_id").as("crate_id"),
      when(col("doc_id") % 3 === 0, f0)
        .when(col("doc_id") % 3 === 1, f1)
        .otherwise(f2).as("jsonld"))
  }

  /** Staged rewrite targets for [[importCrates]]: one per File entity,
    * keyed by the NORMALIZED (percent-encoded) raw id. */
  private def importTargets(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    val n = col("doc_id").cast("string")
    val mainEnc = when(col("doc_id") % 4 === 1,
        concat(lit("./f%20"), n, lit("%20b.txt")))
      .otherwise(concat(lit("data/"), n, lit(".txt")))
    val main = docs.select(col("doc_id").as("crate_id"),
      mainEnc.as("file_id"),
      concat(lit("https://w3id.org/aruna/data/arn:c"), n).as("w3id"),
      concat(lit("https://w3id.org/aruna/data/"),
        md5(concat(lit("h"), n)), md5(concat(lit("g"), n))).as("hash_w3id"),
      concat(lit("files/"), n, lit(".txt")).as("local_path"))
    val extra = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("crate_id"),
        concat(lit("data/x"), n, lit(".png")).as("file_id"),
        concat(lit("https://w3id.org/aruna/data/arn:x"), n).as("w3id"),
        concat(lit("https://w3id.org/aruna/data/"),
          md5(concat(lit("i"), n)), md5(concat(lit("j"), n))).as("hash_w3id"),
        concat(lit("files/x"), n, lit(".png")).as("local_path"))
    main.unionByName(extra)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cat1_list_v2_prefixes" -> { (s, d) =>
      Listing.listObjectsV2(ObjectTables.objects(s, d), "bkt-1", "data/A/",
        Some("/"), None)
    },

    "cat2_list_v2_page" -> { (s, d) =>
      Listing.listObjectsV2(ObjectTables.objects(s, d), "bkt-1", "data/A/f1/",
        Some("/"), Some("data/A/f1/o250.bin"), maxKeys = 10)
    },

    "cat3_list_versions" -> { (s, d) =>
      Listing.listVersions(ObjectTables.objects(s, d), "bkt-2", "data/R/f3/",
        maxKeys = 100)
    },

    "cat4_bucket_search" -> { (s, d) =>
      Listing.searchBuckets(
        ObjectTables.objects(s, d).select(col("bucket")).distinct(), "t")
    },

    "cat5_iri_backlinks" -> { (s, d) =>
      graft.Store.iriIndex(s, d)
        .filter(col("predicate_iri") === ConformsTo)
        .orderBy(col("object_iri"), col("graph_iri"))
    },

    "cat6_references" -> { (s, d) =>
      val visible = RdfTables.registry(s, d)
        .filter(col("public") && !col("deleted"))
      IriIndex.references(graft.Store.iriIndex(s, d), visible,
        ConformsTo, "https://w3id.org/ro/crate/2")
    },

    "cat7_usage_rebuild" -> { (s, d) =>
      UsageStats.rebuild(ObjectTables.objectsFanned(s, d), ObjectTables.blobs(s, d),
        ObjectTables.buckets(s, d))
        .orderBy(col("scope"), col("key"))
    },

    // user/group name search: case-insensitive substring + min-chars guard
    // (the 1-char branch must contribute zero rows) + limit clamp to the
    // unified max of 100 — 111 customers match, so the clamp is exercised
    "us1_name_search" -> { (s, d) =>
      val names = graft.Tables.customer(s, d).select(col("c_name").as("name"))
      Listing.searchNames(names, "name", "00012", limit = 200)
        .union(Listing.searchNames(names, "name", "x", limit = 200))
        .orderBy(col("name"))
    },

    // unified four-section search composition + clamp grid (search.rs:27-33)
    "us2_unified" -> { (s, d) => UnifiedSearch.gate(s, d) },

    // query-cache semantics driven end-to-end (query_cache.rs:16-19,
    // handle.rs:4787-4800): cold miss → fresh hit → a store mutation bumps
    // the generation stamp and the SAME query must recompute against the
    // mutated store (never serve the stale entry) → hit on the new entry →
    // TTL expiry misses again. The trace records actual cache behavior;
    // the oracle pins both the hit/miss sequence and the values, so a
    // cache serving stale results diverges at s3.
    "qc1_cache_invalidation" -> { (s, d) =>
      val reg = RdfTables.registry(s, d)
      val v0 = reg.filter(!col("deleted"))
      // the mutation: delete every doc with document_id % 10 == 3
      val v1 = v0.filter(col("document_id").cast("long") % 10 =!= 3)
      var now = 0L // injectable clock: the TTL step is deterministic
      val cache = new graft.cache.QueryCache[(Long, Long)](clock = () => now)
      val k = cache.key("scope:anon", "live-doc-stats")
      def compute(store: DataFrame): (Long, Long) = {
        // bounded single-row aggregate (the cache stores collected results
        // by design — reference result sets are capped at 10k rows/8 MiB)
        val r = store.agg(count(lit(1)), sum(col("document_id").cast("long"))).head()
        (r.getLong(0), r.getLong(1))
      }
      def step(name: String, store: DataFrame, gen: Long): (String, Boolean, Long, Long) =
        cache.get(k, gen) match {
          case Some(v) => (name, true, v._1, v._2)
          case None =>
            val v = compute(store)
            cache.put(k, v, gen)
            (name, false, v._1, v._2)
        }
      val trace = Seq(
        step("s1_cold", v0, 0L),
        step("s2_hit", v0, 0L),
        { now += 1000; step("s3_mutated", v1, 1L) },
        step("s4_hit_after", v1, 1L),
        { now += 31000; step("s5_ttl_expired", v1, 1L) })
      import s.implicits._
      trace.toDF("step", "cache_hit", "n_live", "sum_live").orderBy("step")
    },

    // ListParts (list_parts.rs): two pages of one Open upload — p1 cold
    // (marker None, truncated at 3 with the resume marker), p2 resumed
    // strictly after part 10. Upload 20 has 6 parts at sf0.01, so both
    // truncation and the final short page are exercised.
    "cat9_list_parts" -> { (s, d) =>
      val up = ObjectTables.uploads(s, d)
      val pt = ObjectTables.parts(s, d)
      Listing.listParts(up, pt, "000000000020", None, maxParts = 3)
        .withColumn("page", lit("p1"))
        .unionByName(
          Listing.listParts(up, pt, "000000000020", Some(10), maxParts = 3)
            .withColumn("page", lit("p2")))
        .orderBy("page", "part_number")
    },

    // ListMultipartUploads (list_multipart_uploads.rs): sect a = delimiter
    // grouping at the bucket root (every key folds into its mp/dX/ group);
    // sect b = leaf page under one group with the (key_marker,
    // upload_id_marker) tuple resume — equal keys survive only past the
    // upload-id marker.
    "cat10_list_uploads" -> { (s, d) =>
      val up = ObjectTables.uploads(s, d)
      Listing.listMultipartUploads(up, "bkt-1", Some("mp/"), Some("/"),
        maxUploads = 8)
        .withColumn("sect", lit("a"))
        .unionByName(
          Listing.listMultipartUploads(up, "bkt-1", Some("mp/d3/"), Some("/"),
            keyMarker = Some("mp/d3/u150.bin"),
            uploadIdMarker = Some("000000000300"), maxUploads = 10)
            .withColumn("sect", lit("b")))
        .orderBy(col("sect"), col("name"), col("upload_id"))
    },

    // Plain paged ListBuckets (list_buckets.rs): p1 cold truncated page
    // (continuation token = last returned name), p2 resumed strictly after
    // a token, p3 prefix-filtered with the default (10k) clamp — the
    // listing every S3 client calls first.
    "cat11_list_buckets" -> { (s, d) =>
      val b = ObjectTables.bucketsLarge(s, d)
      Listing.listBuckets(b, "grp-2", maxBuckets = Some(25))
        .withColumn("page", lit("p1"))
        .unionByName(
          Listing.listBuckets(b, "grp-2",
            continuationToken = Some("cb-00000055"), maxBuckets = Some(25))
            .withColumn("page", lit("p2")))
        .unionByName(
          Listing.listBuckets(b, "grp-2", prefix = Some("cb-000001"))
            .withColumn("page", lit("p3")))
        .orderBy("page", "bucket")
    },

    // CompleteMultipartUpload validation (complete_multipart_upload.rs):
    // five planted request variants per upload class — baseline (v0),
    // phantom part (v1 → InvalidPart), reversed order (v2 →
    // InvalidPartOrder), corrupted etag (v3 → PartEtagMismatch), wrong
    // declared size (v4 → InvalidObjectSize) — plus the data-planted small
    // parts that trip EntityTooSmall on otherwise-clean requests. The
    // verdict must be the FIRST failing rule in request position order.
    "cat12_complete_multipart" -> { (s, d) =>
      val isPicked = col("upload_id").cast("long") % 11 === 0
      val up = ObjectTables.uploads(s, d).filter(isPicked)
      val pt = ObjectTables.parts(s, d).filter(isPicked)
      val w = Window.partitionBy("upload_id")
      val pv = pt
        .withColumn("v", col("upload_id").cast("long") % 5)
        .withColumn("min_pn", min("part_number").over(w))
        .withColumn("sum_sz", sum("size").over(w))
      val base = pv.select(
        col("upload_id"),
        when(col("v") === 2, -col("part_number")).otherwise(col("part_number"))
          .cast("int").as("seq"),
        col("part_number"),
        when(col("v") === 3 && col("part_number") === col("min_pn"),
          "deadbeef").otherwise(col("hash")).as("etag"),
        when(col("v") === 4, col("sum_sz") + 1).cast("long").as("declared_size"))
      val phantom = pv.filter(col("v") === 1)
        .select("upload_id").distinct()
        .select(col("upload_id"), lit(99).cast("int").as("seq"),
          lit(99).cast("int").as("part_number"),
          lit(null).cast("string").as("etag"),
          lit(null).cast("long").as("declared_size"))
      Multipart.completeVerdicts(up, pt, base.unionByName(phantom))
        .orderBy("upload_id")
    },

    // AbortMultipartUpload verdict batch (abort_multipart_upload.rs): four
    // request variants per picked upload — v0 well-formed (Ok on Open,
    // UploadNotOpen on Completed/Aborted), v1 wrong key and v2 wrong
    // bucket (UploadTargetMismatch, which must OUTRANK the status arm —
    // v1/v2 picks span all three statuses), v3 phantom upload id
    // (NoSuchUpload). Ok rows carry the cleanup accounting: parts found,
    // records batch-deleted (parts + the upload record), bytes freed.
    "cat17_abort_multipart" -> { (s, d) =>
      val up = ObjectTables.uploads(s, d)
      val pt = ObjectTables.parts(s, d)
      val v = (col("upload_id").cast("long") / 13).cast("long") % 4
      val req = up.filter(col("upload_id").cast("long") % 13 === 0)
        .select(
          when(v === 3, concat(lit("ZZ"), substring(col("upload_id"), 3, 10)))
            .otherwise(col("upload_id")).as("upload_id"),
          when(v === 2, concat(col("bucket"), lit("-x")))
            .otherwise(col("bucket")).as("bucket"),
          when(v === 1, concat(col("key"), lit(".wrong")))
            .otherwise(col("key")).as("key"))
      Multipart.abortVerdicts(up, pt, req).orderBy("upload_id")
    },

    // CreateBucket verdict batch (create_bucket.rs:113-127): catalog hits
    // fail, in-batch duplicates fail for every request after the first in
    // submission order, and each OK request folds +1 into its group's
    // bucket usage counter (the UsageCounterUpdate accounting).
    "cb1_create_bucket" -> { (s, d) =>
      val y = (col("c_custkey") / 23).cast("long") % 5
      val req = graft.Tables.customer(s, d)
        .filter(col("c_custkey") % 23 === 0)
        .select(col("c_custkey").as("seq"),
          when(y === 0, concat(lit("bkt-"), (col("c_custkey") % 4).cast("string")))
            .when(y === 1 || y === 3,
              concat(lit("nb-"), (col("c_custkey") % 11).cast("string")))
            .when(y === 2, concat(lit("nb-u"), col("c_custkey").cast("string")))
            .otherwise(concat(lit("ws-new-"), (col("c_custkey") % 3).cast("string")))
            .as("bucket"),
          concat(lit("grp-"), (col("c_custkey") % 7).cast("string")).as("group_id"))
      Creates.createBucketVerdicts(ObjectTables.buckets(s, d), req)
        .orderBy("seq")
    },

    // CreateMultipartUpload request ladder (s3_service.rs:1801-1866):
    // SSE rejection, empty/unconfined object keys, the five-algorithm
    // checksum whitelist, then the opened record's checksum hint
    // (Composite only for literal COMPOSITE), group resolution (bucket's
    // group when bucket info resolved, else the caller's) and Open status.
    "cmu1_create_multipart" -> { (s, d) =>
      val m = (col("o_orderkey") / 43).cast("long") % 12
      val o = col("o_orderkey")
      val req = graft.Tables.orders(s, d).filter(o % 43 === 0)
        .select(concat(lit("mu"), o.cast("string")).as("req_id"),
          concat(lit("bkt-"), (o % 4).cast("string")).as("bucket"),
          when(m === 4, "")
            .when(m === 5, concat(lit("/abs/k"), o.cast("string")))
            .when(m === 6, concat(lit("a/../k"), o.cast("string")))
            .when(m === 7, "./.")
            .otherwise(concat(lit("mp/k"), o.cast("string"), lit(".bin")))
            .as("key"),
          (m === 1).as("sse"), (m === 2).as("sse_kms"),
          (m === 3).as("sse_customer"),
          when(m === 8, "MD5").when(m === 9, "SHA256")
            .when(m === 11, "CRC32C").otherwise(lit(null).cast("string"))
            .as("checksum_algorithm"),
          when(m === 9, "FULL_OBJECT").when(m === 10 || m === 11, "COMPOSITE")
            .otherwise(lit(null).cast("string")).as("checksum_type"),
          (o % 2 === 0).as("has_bucket_info"),
          concat(lit("bg-"), (o % 5).cast("string")).as("bucket_group"),
          concat(lit("ug-"), (o % 3).cast("string")).as("user_group"))
      Creates.createMultipartVerdicts(req).orderBy("req_id")
    },

    // Realm document count (metadata/stats.rs:19-36): per-realm registry
    // count excluding lifecycle-Deleted graphs, caller-visibility-blind;
    // a node without a metadata subsystem answers NULL (None), a live
    // subsystem over an empty realm answers 0 — the Option<u64> pin.
    "rm1_realm_doc_count" -> { (s, d) =>
      val reg = graft.sparql.RdfTables.registry(s, d)
        .withColumn("realm_id", concat(lit("realm-"),
          (col("document_id").cast("long") % 4).cast("string")))
      val req = s.range(0, 6).select(
        concat(lit("realm-"), col("id").cast("string")).as("realm_id"),
        (col("id") % 5 =!= 4).as("has_metadata"))
      Directory.realmDocumentCounts(reg, Directory.lifecycle(s, d), req)
        .orderBy("realm_id")
    },

    // GetBucketInfo point-read batch (get_bucket_info.rs; also the
    // resolution behind HeadBucket and GetBucketLocation,
    // s3_service.rs:1102-1146): Found rows carry the record's group and
    // its replication-config summary; catalog misses (including workspace
    // buckets, which live outside the S3 bucket keyspace) are NotFound.
    "bi1_bucket_info" -> { (s, d) =>
      val req = s.range(0, 8).select(col("id").cast("int").as("req_seq"),
        when(col("id") < 4, concat(lit("bkt-"), col("id").cast("string")))
          .when(col("id") === 4, "bkt-9")
          .when(col("id") === 5, "ws-tmp-0")
          .when(col("id") === 6, "nb-x")
          .otherwise("bkt-2").as("bucket"))
      val rep = ReplicationTables.bucketTargets(s)
        .groupBy(col("cfg_bucket")).agg(
          countDistinct(col("target_node"), col("cfg_target_bucket"))
            .as("n_rep"))
        .withColumnRenamed("cfg_bucket", "bucket")
      req.join(broadcast(ObjectTables.buckets(s, d)), Seq("bucket"), "left")
        .join(broadcast(rep), Seq("bucket"), "left")
        .select(col("req_seq"), col("bucket"),
          when(col("group_id").isNull, "NotFound").otherwise("Found")
            .as("verdict"),
          col("group_id"),
          when(col("group_id").isNotNull, coalesce(col("n_rep"), lit(0L)))
            .as("n_replication_targets"))
        .orderBy("req_seq")
    },

    // PutObject admission + effects plan (put_object.rs — see
    // graft.catalog.PutObject): MissingBody / IncompleteBody / checksum
    // first-fail / bucket-guard TransactionConflict ladder, backend-scoped
    // blake3 dedup (alias + duplicate-copy cleanup), was_live liveness read
    // and pointer generation, the realm-wide quota gate with snapshot
    // eligibility rules and sequential per-group admission, and the commit
    // usage deltas (objects/logical vs stored-only-when-new-blob).
    "po1_put_object" -> { (s, d) =>
      val o = col("o_orderkey")
      val cls = o % 13
      val size = when(cls === 7, 0L)
        .otherwise((o % 100) * 1000 + 17).cast("long")
      val blake3 = md5((o % 149).cast("string"))
      val reqs = graft.Tables.orders(s, d).filter(o % 29 === 3)
        .select(
          lpad(o.cast("string"), 12, "0").as("req_id"),
          when(cls === 5, "bkt-9")
            .otherwise(concat(lit("bkt-"), (col("o_custkey") % 4).cast("string")))
            .as("bucket"),
          when(cls === 6, "grp-9")
            .otherwise(concat(lit("grp-"), ((col("o_custkey") % 4) % 3).cast("string")))
            .as("requester_group"),
          when(o % 3 === 0, concat(lit("data/"),
            when(col("o_custkey") % 3 === 0, "R")
              .when(col("o_custkey") % 3 === 1, "A").otherwise("N"),
            lit("/f"), (o % 40).cast("string"),
            lit("/o"), (o % 500).cast("string"), lit(".bin")))
            .otherwise(concat(lit("put/o"), o.cast("string"), lit(".bin")))
            .as("key"),
          (cls =!= 0).as("has_body"),
          size.as("size"),
          when(cls === 1, size + 1)
            .when(cls === 8, lit(null).cast("long"))
            .otherwise(size).as("content_length"),
          blake3.as("blake3"),
          when(o % 2 === 0, "fs").otherwise("s3").as("backend"),
          when(cls === 2, "CRC64NVME").when(cls.isin(3, 4, 9), "SHA256")
            .otherwise(lit(null).cast("string")).as("exp1_algo"),
          when(cls === 2, "x").when(cls === 3, "deadbeef")
            .when(cls.isin(4, 9), md5(concat(lit("s:"), blake3)))
            .otherwise(lit(null).cast("string")).as("exp1_digest"),
          when(cls === 4, "CRC32").otherwise(lit(null).cast("string"))
            .as("exp2_algo"),
          when(cls === 4, "deadbeef").otherwise(lit(null).cast("string"))
            .as("exp2_digest"))
      val groups = ObjectTables.buckets(s, d).select("group_id").distinct()
      val ovr = s.range(1, 3).select(
        concat(lit("grp-"), col("id").cast("string")).as("group_id"),
        when(col("id") === 1, 5000000L).as("quota_bytes"),
        when(col("id") === 1, 100L).as("grace"),
        lit(true).as("has_override"))
      val usageLocal = s.range(0, 3).select(
        concat(lit("grp-"), col("id").cast("string")).as("group_id"),
        when(col("id") === 0, 9500000L).when(col("id") === 1, 4200000L)
          .otherwise(1000000L).as("logical_bytes"))
      val nodeUsage = s.range(0, 3).select(col("id").as("g"))
        .crossJoin(s.range(0, 5).select(col("id").as("n")))
        .select(
          concat(lit("grp-"), col("g").cast("string")).as("group_id"),
          concat(lit("nd-"), col("n").cast("string")).as("key_node"),
          when(col("g") === 1 && col("n") === 2, "nd-9")
            .otherwise(concat(lit("nd-"), col("n").cast("string")))
            .as("embedded_node"),
          (lit(100000L) * (col("n") + 1)).as("logical_bytes"))
      PutObject.admissionPlan(s, reqs, ObjectTables.buckets(s, d),
        ObjectTables.versionsStore(s, d), ObjectTables.blobs(s, d),
        PutObject.ceilings(groups, ovr, 10000000L, 110L),
        PutObject.baseUsage(usageLocal, nodeUsage,
          Seq("nd-0", "nd-1", "nd-2", "nd-4"), "nd-0"))
        .orderBy("req_id")
    },

    // CreateGroup admission (create_group.rs:81-116,354-362): owner cap
    // from the quota user-cap ladder (override incl. explicit-unlimited,
    // else realm default), zero-cap fast reject, cap-limited index scan.
    "cg1_create_group" -> { (s, d) =>
      val o = col("o_orderkey")
      val cls = o % 6
      val owned = graft.Tables.customer(s, d).select(
        concat(lit("u"), (col("c_custkey") % 40).cast("string"))
          .as("user_id"),
        concat(lit("og"), col("c_custkey").cast("string")).as("group_id"))
      val caps = s.range(1, 4).select(
        concat(lit("u"), col("id").cast("string")).as("user_id"),
        when(col("id") === 2, 0L).when(col("id") === 3, 2L)
          .otherwise(lit(null).cast("long")).as("max_groups"))
      val reqs = graft.Tables.orders(s, d).filter(o % 59 === 23).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(cls === 0, "u1").when(cls === 1, "u2").when(cls === 2, "u3")
          .when(cls === 4, concat(lit("unew"), o.cast("string")))
          .otherwise(concat(lit("u"), (o % 40).cast("string")))
          .as("user_id"))
      Creates.createGroupVerdicts(reqs, owned, caps, Some(3L))
        .orderBy("req_id")
    },

    // GetMetadataDocument view ladder (get_metadata_document.rs:100-170):
    // (group, document)-keyed registry read, Deleted-lifecycle hide
    // (absent lifecycle fine), and the materialization cursor proof —
    // only a status at EXACTLY the record's last_event_id proves the
    // graph; matching non-Materialized is GraphNotFound, missing/stale
    // serves unproven.
    "gmd1_get_document" -> { (s, d) =>
      val o = col("o_orderkey")
      val cls = o % 5
      val doc = (o % 490).cast("long")
      val registry = graft.sparql.RdfTables.registry(s, d)
        .withColumn("last_event_id",
          lpad(((col("document_id").cast("long") * 7) % 100000)
            .cast("string"), 8, "0"))
      val docs = graft.Tables.documents(s, d).select(
        col("doc_id").cast("string").as("document_id"),
        col("doc_id").as("n"))
      val statuses = docs.filter(col("n") % 3 =!= 2).select(
        col("document_id"),
        lpad(when(col("n") % 5 === 1, (col("n") * 7 + 1) % 100000)
          .otherwise((col("n") * 7) % 100000).cast("string"), 8, "0")
          .as("status_event_id"),
        when(col("n") % 11 === 4, "Pending").otherwise("Materialized")
          .as("mat_state"))
      val reqs = graft.Tables.orders(s, d).filter(o % 61 === 31).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(cls === 0, "999999").otherwise(doc.cast("string"))
          .as("document_id"),
        when(cls === 1, "grp-x")
          .otherwise(concat(lit("grp-"), (doc % 10).cast("string")))
          .as("group_id"))
      Directory.getDocuments(reqs, registry,
        Directory.lifecycle(s, d), statuses).orderBy("req_id")
    },

    // UploadPart admission ladder (upload_part.rs:139-155,186-223,328-345):
    // pin read + target/status validation, post-write cleanup arms (stream
    // vs server fault distinct), content-length guard, ordered
    // expected-checksum walk, the transactional re-read (same verdict
    // strings WITH rollback), replaced-part cleanup + backend pin on Ok.
    "up1_upload_part" -> { (s, d) =>
      val o = col("o_orderkey")
      val m = (o / 17).cast("long") % 13
      val sz = ((o % 1000) + 1) * 1024L
      val rid = concat(lit("up"), lpad(o.cast("string"), 12, "0"))
      val sha = md5(concat(lit("s:"), rid))
      val up = ObjectTables.uploads(s, d).withColumn("backend",
        concat(lit("be-"), (col("upload_id").cast("long") % 3).cast("string")))
      val reqs = graft.Tables.orders(s, d).filter(o % 17 === 0).select(
        rid.as("req_id"),
        when(m === 0, "999999999999")
          .otherwise(lpad(o.cast("string"), 12, "0")).as("upload_id"),
        concat(lit("bkt-"), (col("o_custkey") % 4).cast("string"))
          .as("bucket"),
        when(m === 1, "wrong/key.bin")
          .otherwise(concat(lit("mp/d"), (col("o_custkey") % 10).cast("string"),
            lit("/u"), (o % 200).cast("string"), lit(".bin"))).as("key"),
        ((o % 40) + 1).cast("int").as("part_number"),
        (m =!= 3).as("has_body"),
        (m === 4).as("stream_failed"),
        (m === 5).as("blob_error"),
        when(m <= 2, lit(null).cast("long"))
          .when(m === 6, sz + 1).otherwise(sz).as("content_length"),
        sz.as("size"),
        when(m === 7, "CRC64NVME").when(m === 8 || m === 9, "SHA256")
          .otherwise(lit(null).cast("string")).as("exp1_algo"),
        when(m === 8, lit("deadbeef")).when(m === 9, sha)
          .otherwise(lit(null).cast("string")).as("exp1_digest"),
        when(m === 9, "CRC32").otherwise(lit(null).cast("string"))
          .as("exp2_algo"),
        when(m === 9, lit("badc0de")).otherwise(lit(null).cast("string"))
          .as("exp2_digest"),
        when(m === 10, "Aborted").when(m === 11, "Gone")
          .otherwise(lit(null).cast("string")).as("concurrent_status"))
      UploadPart.verdicts(reqs, up, ObjectTables.parts(s, d))
        .orderBy("req_id")
    },

    // Group storage-backend admission (group_backends/validation.rs +
    // replace.rs:67-87): the full validate_backend_input ladder across
    // all five kinds' rule tables, plus check_identity immutability.
    "gb1_backend_admission" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 139).cast("long") % 16
      val kind = element_at(array(lit("S3"), lit("Gcs"), lit("Azblob"),
        lit("Azdls"), lit("B2")), (o % 5 + 1).cast("int"))
      val rid = lpad(o.cast("string"), 12, "0")
      val base = graft.Tables.orders(s, d).filter(o % 139 === 0)
        .select(rid.as("req_id"), o.as("o"), k.as("k"), kind.as("kind"))
      val bo = col("o"); val bk = col("k"); val bkind = col("kind")

      val reqs = base.select(col("req_id"),
        when(bk >= 14, "replace").otherwise("validate").as("op"),
        when(bk === 1, "   ").otherwise(concat(lit("backend "),
          bo.cast("string"))).as("name"),
        bkind.as("kind"),
        when(bk === 14, when(bkind === "S3", "Gcs").otherwise("S3"))
          .when(bk === 15, bkind).otherwise(lit(null).cast("string"))
          .as("ex_kind"))

      def pubRow(cond: org.apache.spark.sql.Column, seq: Long, key: String,
          v: org.apache.spark.sql.Column) =
        base.filter(cond).select(col("req_id"), lit(seq).as("seq"),
          lit(key).as("k"), v.as("v"))
      val hasBucket = bkind.isin("S3", "Gcs", "B2")
      val endpointVal = when(bk === 9, "http://store.example.com")
        .when(bk === 10, "https://127.1")
        .otherwise("https://store.example.com")
      val reqPub =
        pubRow(bk =!= 6 && (bkind =!= "B2" || bk.isin(9, 10)), 1L,
          "endpoint", endpointVal)
        .union(pubRow(bk =!= 6 && (hasBucket || bk === 11), 2L, "bucket",
          when(bk === 11, "da/ta").otherwise("data")))
        .union(pubRow(bk =!= 6 && bkind === "Azblob", 3L, "container",
          lit("data")))
        .union(pubRow(bk =!= 6 && bkind === "Azdls", 3L, "filesystem",
          lit("data")))
        .union(pubRow(bk =!= 6 && bkind.isin("Azblob", "Azdls"), 4L,
          "account_name", lit("acct")))
        .union(pubRow(bk =!= 6 && bkind === "B2", 5L, "bucket_id",
          lit("bid")))
        .union(pubRow(bk =!= 6, 6L, "root",
          when(bk === 3, "").when(bk === 12, "../up").otherwise("a/b")))
        .union(pubRow(bk === 2, 99L, "zzz", lit("x")))
        .union(base.filter(bk === 4).select(col("req_id"),
          lit(99L).as("seq"), lit("Root").as("k"), lit("c/d").as("v")))
        .union(pubRow(bk === 13, 98L, "force_path_style", lit("yes")))

      val secOn = bk =!= 7 &&
        !(bk === 8 && bkind.isin("Azblob", "Azdls"))
      def secRow(cond: org.apache.spark.sql.Column, seq: Long,
          key: org.apache.spark.sql.Column, v: String) =
        base.filter(cond).select(col("req_id"), lit(seq).as("seq"),
          key.as("k"), lit(v).as("v"))
      val reqSec =
        secRow(secOn && bkind === "S3", 1L, lit("access_key_id"), "id")
        .union(secRow(secOn && bkind === "S3", 2L,
          lit("secret_access_key"), "key"))
        .union(secRow(secOn && bkind === "Gcs", 1L, lit("credential"),
          "cred"))
        .union(secRow(secOn && bkind === "Azblob", 1L, lit("account_key"),
          "ak"))
        .union(secRow(secOn && bkind === "Azdls", 1L, lit("sas_token"),
          "st"))
        .union(secRow(secOn && bkind === "B2", 1L,
          lit("application_key_id"), "aki"))
        .union(secRow(secOn && bkind === "B2", 2L, lit("application_key"),
          "ak"))
        .union(secRow(bk === 5, 99L, lit("bad"), "x"))

      def exRow(cond: org.apache.spark.sql.Column, key: String,
          v: org.apache.spark.sql.Column) =
        base.filter(cond && bk >= 14).select(col("req_id"),
          lit(key).as("key"), v.as("value"))
      val existing =
        exRow(bkind =!= "B2", "endpoint", lit("https://store.example.com"))
        .union(exRow(hasBucket, "bucket", lit("data")))
        .union(exRow(bkind === "Azblob", "container", lit("data")))
        .union(exRow(bkind === "Azdls", "filesystem", lit("data")))
        .union(exRow(bkind.isin("Azblob", "Azdls"), "account_name",
          lit("acct")))
        .union(exRow(bkind === "B2", "bucket_id", lit("bid")))
        .union(exRow(lit(true), "root",
          when(bk === 15, "other/root").otherwise("a/b")))

      GroupBackends.decide(reqs, reqPub, reqSec, existing)
        .orderBy("req_id")
    },

    // Job routing (jobs/route.rs:64-82; realm.rs:565-595): provably
    // invalid vs unsynced 503, local/forward/unauthorized dispatch.
    "jr1_job_route" -> { (s, d) =>
      val o = col("o_orderkey")
      val n = col("n_nationkey")
      val k = (o / 157).cast("long") % 7
      val x = o % 25
      val jobIds = graft.Tables.nation(s, d).select(
        concat(lit("J"), n.cast("string")).as("job_id"),
        (n % 11 =!= 3).as("routable"),
        (n % 13 =!= 5).as("bucket_in_range"),
        when(n % 7 === 6, "Metadata").otherwise("JobControl")
          .as("doc_class"),
        when(n % 9 === 7, "realm-x").otherwise("realm-1")
          .as("scope_realm"),
        (n % 6 + 3).cast("long").as("handle"))
      val bindings = graft.Tables.nation(s, d).filter(n < 6).select(
        (n + 3).cast("long").as("handle"),
        lit("JobControl").as("doc_class"),
        when(n % 5 === 4, lit(null).cast("string"))
          .otherwise(concat(lit("nd-"), (n % 3).cast("string")))
          .as("allocated_by"))
      val reqs = graft.Tables.orders(s, d).filter(o % 157 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k === 0, "J999")
          .otherwise(concat(lit("J"), x.cast("string"))).as("job_id"),
        (k =!= 1).as("has_request"))
      Handles.routeJobs(reqs, jobIds, bindings, "realm-1", "nd-0")
        .orderBy("req_id")
    },

    // Strategy resolution precedence (resolver.rs:166-186,374-463):
    // override > longest path-prefix (last-wins ties) > group > class >
    // realm > default > first; dangling refs fail closed.
    "sfr1_strategy_resolution" -> { (s, d) =>
      import s.implicits._
      val o = col("o_orderkey")
      val k = (o / 151).cast("long") % 10
      val strategies = s.range(0, 10).select(
        concat(lit("st-"), col("id").cast("string")).as("strategy_id"),
        col("id").as("seq"))
      val bindings = Seq(
        (1L, "PathPrefix", "/data/raw", "st-1"),
        (2L, "PathPrefix", "data", "st-2"),
        (3L, "PathPrefix", "data/raw/deep", "st-3"),
        (4L, "PathPrefix", "", "st-4"),
        (5L, "Group", "g1", "st-5"),
        (6L, "Group", "g2", "st-missing"),
        (7L, "Class", "User", "st-6"),
        (8L, "Realm", "", "st-7"),
        (9L, "PathPrefix", "data/raw", "st-8")
      ).toDF("seq", "scope_kind", "scope_val", "strategy_id")
      val overrides = Seq(("sub-ovr", "st-9"), ("sub-ovrbad", "st-missing"))
        .toDF("subject", "strategy_id")
      val reqs = graft.Tables.orders(s, d).filter(o % 151 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k === 0, "sub-ovr").when(k === 1, "sub-ovrbad")
          .otherwise(concat(lit("sub-"), o.cast("string"))).as("subject"),
        when(k.between(2, 5), "Metadata")
          .when(k === 6, "MetadataRegistry")
          .when(k === 7, "User").when(k === 8, "Admin")
          .otherwise("Blob").as("class"),
        when(k === 6, "g1").when(k === 9, "g2")
          .otherwise(lit(null).cast("string")).as("group_id"),
        when(k === 2, "/data/raw/file").when(k === 3, "data/raw")
          .when(k === 4, "dataxx/f").when(k === 5, "data/raw/deep/x")
          .otherwise(lit(null).cast("string")).as("metadata_path"))
      PlacementRank.strategyForTarget(reqs, strategies, bindings,
        overrides, Some("st-0")).orderBy("req_id")
    },

    // Weighted rendezvous placement kernel (placement/selector.rs):
    // the reference's own exact neg_log2 vectors + golden rank order,
    // computed by the real integer implementation (KAT-style oracle).
    "ps1_placement_rank" -> { (s, d) =>
      import s.implicits._
      val q48 = 1L << 48
      val negRows = Seq(
        ("neglog2", "h63", PlacementRank.negLog2Q48(1L << 63)),
        ("neglog2", "h62", PlacementRank.negLog2Q48(1L << 62)),
        ("neglog2", "h1", PlacementRank.negLog2Q48(1L)),
        ("neglog2", "q48_one", q48))
        .toDF("section", "key", "value")
      val ids = (1 to 6).map(i => ("%02x".format(i)) * 32)
      val weights = Seq(100L, 100L, 100L, 300L, 50L, 200L)
      val cands = ids.zip(weights).map { case (id, w) =>
        ("golden-subject", id, w) }.toDF("subject", "id_hex", "weight")
      val ranked = PlacementRank.rank(s, cands, PlacementRank.RoleNode)
        .select(lit("rank").as("section"),
          col("pos").cast("string").as("key"),
          // report the candidate's ORIGINAL index (its first byte)
          substring(col("id_hex"), 1, 2).cast("int").cast("long")
            .as("value"))
      negRows.union(ranked).orderBy("section", "key")
    },

    // Backend disable/enable/remove lifecycle (group_backends/disable.rs,
    // remove.rs): idempotent stamp, disabled-only removal, the
    // holding-data guard over locations/cleanup/uploads.
    "gb2_backend_lifecycle" -> { (s, d) =>
      val o = col("o_orderkey")
      val n = col("n_nationkey")
      val k = (o / 149).cast("long") % 6
      val x = o % 20
      val backends = graft.Tables.nation(s, d).filter(n < 20).select(
        concat(lit("g"), (n % 4).cast("string")).as("group_id"),
        concat(lit("bk-"), n.cast("string")).as("backend_id"),
        (n % 3 === 0).as("disabled"),
        concat(lit("be-"), n.cast("string")).as("backend"))
      // holders: every backend named by a location row, a cleanup row, or
      // an upload record (three unions, pre-distinct)
      val holders = graft.Tables.nation(s, d)
        .filter(n < 20 && n % 5 === 0)
        .select(concat(lit("be-"), n.cast("string")).as("backend"))
        .union(graft.Tables.nation(s, d).filter(n < 20 && n % 7 === 1)
          .select(concat(lit("be-"), n.cast("string")).as("backend")))
      val reqs = graft.Tables.orders(s, d).filter(o % 149 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k <= 3, "set_disabled").otherwise("remove").as("op"),
        when(k === 1, "g9")
          .otherwise(concat(lit("g"), (x % 4).cast("string")))
          .as("group_id"),
        concat(lit("bk-"), x.cast("string")).as("backend_id"),
        (k === 2 || (x % 3 === 0)).as("target_disabled"))
      GroupBackends.lifecycle(reqs, backends, holders).orderBy("req_id")
    },

    // Blob-cleanup queue drain (blob/cleanup.rs:111-307): undecodable and
    // removed-backend drops, delete attempts, the owns_write reconcile
    // ladder (unreadable waits, owned keeps, disowned deletes), DHT retry.
    "bcl1_cleanup_drain" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 137).cast("long") % 10
      val removed = s.range(0, 2).select(
        concat(lit("be-gone-"), col("id").cast("string")).as("backend"))
      val rows = graft.Tables.orders(s, d).filter(o % 137 === 0).select(
        lpad(o.cast("string"), 12, "0").as("row_id"),
        when(k <= 2, "DeleteBlob").when(k <= 7, "ReconcileWrite")
          .otherwise("RegisterDht").as("work_kind"),
        (k =!= 0).as("decodable"),
        when(k === 1, concat(lit("be-gone-"), (o % 2).cast("string")))
          .when(k === 9, lit(null).cast("string")) // DHT rows carry none
          .otherwise(concat(lit("be-"), (o % 3).cast("string")))
          .as("backend"),
        (o % 5 =!= 0).as("delete_ok"),
        (o % 4 =!= 0).as("dht_ok"),
        (k =!= 3).as("owner_readable"),
        (k === 4 || k === 5).as("owner_present"),
        (k === 4).as("owner_same"))
      BlobCleanup.drain(rows, removed).orderBy("row_id")
    },

    // Source-connector CRUD (connectors/{get,list,replace,delete}_source_
    // connector.rs): (group,connector)-keyed NotFound, the
    // referenced-by-object-version guard on replace/delete, identity
    // preservation, record+secret pair delete.
    "cn1_connector_crud" -> { (s, d) =>
      val o = col("o_orderkey")
      val c = col("c_custkey")
      val k = (o / 131).cast("long") % 6
      val x = o % 300
      val connectors = graft.Tables.customer(s, d).filter(c < 300).select(
        concat(lit("g"), (c % 5).cast("string")).as("group_id"),
        concat(lit("cx-"), c.cast("string")).as("connector_id"),
        concat(lit("conn "), c.cast("string")).as("name"),
        element_at(array(lit("s3"), lit("http"), lit("azblob")),
          (c % 3 + 1).cast("int")).as("kind"),
        (c % 2 === 0).as("has_secret"))
      val referencing = graft.Tables.customer(s, d)
        .filter(c < 300 && c % 7 === 0)
        .select(concat(lit("cx-"), c.cast("string")).as("connector_id"))
      val reqs = graft.Tables.orders(s, d).filter(o % 131 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k === 0, "get").when(k === 1, "list")
          .when(k <= 3, "replace").otherwise("delete").as("op"),
        when(k === 2, concat(lit("g"), ((x + 1) % 5).cast("string")))
          .otherwise(concat(lit("g"), (x % 5).cast("string")))
          .as("group_id"),
        concat(lit("cx-"), x.cast("string")).as("connector_id"))
      Connectors.crud(reqs, connectors, referencing).orderBy("req_id")
    },

    // Full SearchBuckets (search_buckets.rs:83-245): limit clamp to 50,
    // per-bucket authorization skip, group-name enrichment with
    // missing-group NULL, S3 ARNs, bucket-key order.
    "sb1_search_buckets" -> { (s, d) =>
      val c = col("c_custkey")
      val buckets = ObjectTables.bucketsLarge(s, d)
        .withColumn("created_at",
          lit(1700000000000L) +
            substring(col("bucket"), 4, 8).cast("long") * 1000)
      val grants = graft.Tables.customer(s, d).filter(c % 3 =!= 1)
        .select(concat(lit("cb-"), lpad(c.cast("string"), 8, "0"))
          .as("bucket"))
      val groups = s.range(0, 5).filter(col("id") =!= 3).select(
        concat(lit("grp-"), col("id").cast("string")).as("group_id"),
        concat(lit("Group "), col("id").cast("string")).as("display_name"))
      Listing.searchBucketsAuthorized(buckets, grants, groups,
        q = "05", limit = 999, realmId = "r1", nodeId = "nd-0")
    },

    // Sync-relationship management (sync_relationship.rs:61-190,235-237;
    // core sync_relationship.rs): ARN validation, Detached-doesn't-block
    // duplicate identity, in-batch first-wins, detach-vs-delete removal.
    "sy1_sync_relationship" -> { (s, d) =>
      val o = col("o_orderkey")
      val n = col("n_nationkey")
      val k = (o / 127).cast("long") % 6
      val x = o % 20
      val store = graft.Tables.nation(s, d).filter(n < 20).select(
        concat(lit("sr-"), n.cast("string")).as("rel_id"),
        concat(lit("s3-b"), (n % 6).cast("string"), lit("/src"))
          .as("source"),
        concat(lit("t-"), n.cast("string")).as("target"),
        element_at(array(lit("Once"), lit("Reference"), lit("Continuous")),
          (n % 3 + 1).cast("int")).as("mode"),
        when(n % 5 === 0, "Detached").otherwise("Enabled").as("state"),
        (n % 3 === 1 || n % 7 === 0).as("serving"))
      val reqs = graft.Tables.orders(s, d).filter(o % 127 === 0).select(
        o.as("seq"),
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k <= 3, "create").otherwise("remove").as("op"),
        when(k === 5, lit("sr-X"))
          .otherwise(concat(lit("sr-"), x.cast("string"))).as("rel_id"),
        lit("b").as("source_bucket"),
        (k =!= 2).as("source_arn_ok"),
        when(k === 1, concat(lit("s3-b"), (x % 6).cast("string"),
          lit("/src")))
          .when(k === 3, concat(lit("dup-"), (o % 50).cast("string")))
          .otherwise(concat(lit("new-"), o.cast("string"))).as("source"),
        when(k === 1, concat(lit("t-"), x.cast("string")))
          .when(k === 3, lit("t-dup"))
          .otherwise(concat(lit("tn-"), o.cast("string"))).as("target"),
        when(k === 1, element_at(array(lit("Once"), lit("Reference"),
          lit("Continuous")), (x % 3 + 1).cast("int")))
          .otherwise(lit("Once")).as("mode"))
      SyncRelationships.decide(reqs, store).orderBy("req_id")
    },

    // Bare document reads (read_realm_authorization.rs — absent is
    // Ok(None), never an error; read_user_document.rs — absent IS
    // NotFound).
    "rd1_doc_reads" -> { (s, d) =>
      val o = col("o_orderkey")
      val c = col("c_custkey")
      val k = (o / 109).cast("long") % 2
      val realmAuth = graft.Tables.nation(s, d).filter(col("n_nationkey") % 2 === 0)
        .select(concat(lit("rm-"), col("n_nationkey").cast("string"))
          .as("key"), ((col("n_nationkey") % 4) + 1).as("n_roles"))
      val users = graft.Tables.customer(s, d).select(
        concat(lit("U"), lpad(c.cast("string"), 8, "0")).as("key"),
        col("c_name").as("name"))
      val reqs = graft.Tables.orders(s, d).filter(o % 109 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k === 0, "realm_auth").otherwise("user_doc").as("op"),
        when(k === 0, concat(lit("rm-"), (o % 40).cast("string")))
          .otherwise(concat(lit("U"), lpad((o % 1600).cast("string"), 8,
            "0"))).as("key"))
      Reads.docReads(reqs, realmAuth, users).orderBy("req_id")
    },

    // Blob permission-path resolution (resolve_blob_permission_paths.rs:
    // 58-86): hash-prefix alias iteration sorted by
    // (permission_path, version_id); empty result is a valid Ok.
    "rbp1_blob_paths" -> { (s, d) =>
      val o = col("o_orderkey")
      val l = graft.Tables.lineitem(s, d)
      // the alias index is a maintained per-blob relation: aliases per
      // hash are contract-bounded, so the fixture pins the index to the
      // base-scale subset (replica keys are offset by +10M and fall out)
      val index = l.filter(col("l_orderkey") % 11 === 0 &&
          col("l_partkey") < 2000 && col("l_orderkey") < 10000000).select(
        md5(concat(lit("b:"), (col("l_orderkey") % 700).cast("string")))
          .as("blake3"),
        concat(lit("/r1/g/g"), (col("l_partkey") % 7).cast("string"),
          lit("/o/"), (col("l_suppkey") % 50).cast("string"))
          .as("permission_path"),
        lpad(((col("l_partkey") * 13 + col("l_linenumber")) % 100000)
          .cast("string"), 8, "0").as("version_id"))
        .distinct()
      val reqs = graft.Tables.orders(s, d).filter(o % 113 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        md5(concat(lit("b:"), (o % 750).cast("string"))).as("blake3"))
      Reads.blobPermissionPaths(reqs, index).orderBy("req_id", "pos")
    },

    // Joiner placement admission (bootstrap_onboarding_finalize.rs:
    // 268-288; node_info.rs:17-22): reserved-label rejection naming the
    // lexicographically first offender, then location/weight normalize.
    "onf1_joiner_admission" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 107).cast("long") % 6
      val base = graft.Tables.orders(s, d).filter(o % 107 === 0)
      val rid = lpad(o.cast("string"), 12, "0")
      val reqs = base.select(rid.as("req_id"),
        when(k === 4, concat(lit("L"), lpad(lit("z"), 70, "z")))
          .when(k === 5, lit(null).cast("string"))
          .otherwise(concat(lit(" dc-"), (o % 3).cast("string"), lit(" ")))
          .as("node_location"),
        when(k === 5, lit(50000L)).when(k === 3, lit(null).cast("long"))
          .otherwise((o % 500) + 1).as("node_weight"))
      val labels = base.select(rid.as("req_id"),
        concat(lit("team/"), (o % 4).cast("string")).as("label_key"))
        .union(base.filter(k === 1).select(rid.as("req_id"),
          lit("aruna-engine.org/kind").as("label_key")))
        .union(base.filter(k === 2).select(rid.as("req_id"),
          concat(lit("aruna-engine.org/storage-class/tier"),
            (o % 2).cast("string")).as("label_key")))
      Onboarding.joinerAdmission(reqs, labels).orderBy("req_id")
    },

    // Onboarding sync tickets (issue_onboarding_sync_ticket.rs;
    // onboarding.rs:160-215): 5 control targets + one per realm user,
    // now+ttl expiry; verify's node/expiry/membership InvalidSecret arms.
    "ot1_sync_ticket" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 103).cast("long") % 5
      val users = graft.Tables.customer(s, d).select(
        concat(lit("U"), lpad(col("c_custkey").cast("string"), 8, "0"))
          .as("user_id"),
        concat(lit("rm-"), (col("c_custkey") % 4).cast("string"))
          .as("realm_id"))
      val reqs = graft.Tables.orders(s, d).filter(o % 103 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k === 0, "issue").otherwise("verify").as("op"),
        concat(lit("rm-"), (o % 5).cast("string")).as("realm_id"),
        concat(lit("nd-"), (o % 3).cast("string")).as("node_id"),
        (lit(1700000000L) + (o % 1000)).as("now_s"),
        lit(300L).as("ttl_s"),
        when(k === 1, lit("nd-x"))
          .otherwise(concat(lit("nd-"), (o % 3).cast("string")))
          .as("t_node"),
        when(k === 2, lit(1600000000L))
          .otherwise(lit(1700000000L) + (o % 1000) + 60L).as("t_expires"),
        (k =!= 3).as("has_document"))
      Onboarding.syncTickets(reqs, users).orderBy("req_id")
    },

    // Onboarding-secret lifecycle around ob1 (create/inspect/delete/
    // list_onboarding_secrets.rs): unconditional create overwrite,
    // inspect's claimed-before-expiry ladder with the finalizing-self
    // expiry escape, delete pair removal, unfiltered list.
    "ob2_secret_lifecycle" -> { (s, d) =>
      val now = 1700000000000L
      val o = col("o")
      val o7 = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(o % 7 === 3)
      val eid = lpad(o.cast("string"), 12, "0")
      val store = o7.select(eid.as("enrollment_id"),
        concat(lit("h"), (o % 1000).cast("string")).as("secret_hash"),
        when(o % 5 === 0, lit(now) - 10000L)
          .otherwise(lit(now) + 600000L).cast("long").as("expires_at"),
        element_at(array(lit("Available"), lit("Reserved"),
          lit("Finalizing"), lit("Consumed")),
          (o % 4 + 1).cast("int")).as("state"),
        when(o % 4 =!= 0, concat(lit("n"), (o % 3).cast("string")))
          .as("state_node"))
      val k = (o / 7).cast("long") % 9
      val reqs = o7.select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k <= 1, "create").when(k <= 5, "inspect")
          .when(k <= 7, "delete").otherwise("list").as("op"),
        when(k === 1 || k === 5 || k === 7,
          lpad((o + 9000000).cast("string"), 12, "0"))
          .otherwise(eid).as("enrollment_id"),
        when(k === 4, lit("n9"))
          .otherwise(concat(lit("n"), (o % 3).cast("string")))
          .as("node_id"),
        when(k === 3, lit("bad"))
          .otherwise(concat(lit("h"), (o % 1000).cast("string")))
          .as("secret_hash"),
        lit(now).as("now_ms"))
      Onboarding.lifecycle(reqs, store).orderBy("req_id")
    },

    // Placement-handle allocation (allocate_handle.rs;
    // handle_allocation.rs:136-151): lowest-unused walk over the node's
    // grants in (start, range_id) order, reserved-first-handle skip,
    // exhaustion past the grants.
    "ah1_allocate_handle" -> { (s, d) =>
      val o = col("o_orderkey")
      val n = col("n_nationkey")
      // grants: per (realm rm-0..4, node nd-0..2) up to 3 disjoint slices
      // of width 4..10 (end exclusive); some empty
      val ranges = graft.Tables.nation(s, d).filter(n < 15)
        .select((n % 5).as("rl"), ((n / 5).cast("long") % 3).as("nd"),
          n.as("n"))
        .select(col("n"), col("rl"), col("nd"),
          explode(sequence(lit(0L), col("n") % 3)).as("g"))
        .select(
          concat(lit("rm-"), col("rl").cast("string")).as("realm_id"),
          concat(lit("nd-"), col("nd").cast("string")).as("node_id"),
          concat(lit("rg-"), col("n").cast("string"), lit("-"),
            col("g").cast("string")).as("range_id"),
          (lit(100L) + col("n") * 40 + col("g") * 12).as("start"),
          (lit(100L) + col("n") * 40 + col("g") * 12 +
            when(col("g") === 2, 1L).otherwise((col("n") % 7) + 3))
            .as("end"))
      val reqs = graft.Tables.orders(s, d).filter(o % 101 === 0).select(
        o.as("seq"),
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("rm-"), (o % 5).cast("string")).as("realm_id"),
        concat(lit("nd-"), (o % 3).cast("string")).as("node_id"))
      Handles.allocate(reqs, ranges).orderBy("req_id")
    },

    // Realm role admin (add_realm_role.rs, add_user_to_realm_role.rs):
    // validate-before-auth add_role ladder (reserved trimmed name,
    // foreign-nil assignee, public non-READ), nil-user-first assign ladder
    // with sorted-list RoleNotFound, RealmAuthDocNotFound vs
    // AuthDocNotFound naming, reducer TargetMismatch, upsert n_already.
    "rr1_realm_role_admin" -> { (s, d) =>
      val o = col("o_orderkey")
      val n = col("n_nationkey")
      val m = (o / 97).cast("long") % 10
      val nations = graft.Tables.nation(s, d).filter(n < 10)
      val authDocs = nations.filter(n =!= 7)
        .select(concat(lit("rm-"), n.cast("string")).as("realm_id"))
      val reducers = nations.filter(n % 2 === 0).select(
        concat(lit("rm-"), n.cast("string")).as("realm_id"),
        when(n === 4, "group:rm-4")
          .otherwise(concat(lit("realm:rm-"), n.cast("string")))
          .as("stored_target"))
      val authRoles = nations
        .select(n, explode(sequence(lit(0L), (n % 3) + 1)).as("j"))
        .select(concat(lit("rm-"), n.cast("string")).as("realm_id"),
          concat(lit("ro-"), n.cast("string"), lit("-"),
            col("j").cast("string")).as("role_id"))
      val assignments = nations
        .select(n, explode(sequence(lit(0L), (n % 3) + 1)).as("j"))
        .select(n, col("j"), explode(sequence(lit(0L), lit(2L))).as("k"))
        .filter((n + col("j") + col("k")) % 3 === 0)
        .select(concat(lit("rm-"), n.cast("string")).as("realm_id"),
          concat(lit("ro-"), n.cast("string"), lit("-"),
            col("j").cast("string")).as("role_id"),
          concat(lit("u"), col("k").cast("string")).as("user_id"))

      val rlm = when(m === 5, lit(7L)).when(m === 6, lit(4L))
        .otherwise(o % 10)
      val base = graft.Tables.orders(s, d).filter(o % 97 === 0)
      val reqs = base.select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(m <= 6, "add_role").otherwise("assign_user").as("op"),
        concat(lit("rm-"), rlm.cast("string")).as("realm_id"),
        when(m === 0, "  realm_admin  ")
          .otherwise(concat(lit("role-"), o.cast("string")))
          .as("role_name"),
        when(m === 7, concat(lit("nil@rm-"), rlm.cast("string")))
          .otherwise(concat(lit("u"), (o % 3).cast("string")))
          .as("user_id"),
        (m =!= 4).as("authorized"))
      val reqUsers = base.filter(m <= 6).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        lit("u1").as("user_id"))
        .union(base.filter(m === 1).select(
          lpad(o.cast("string"), 12, "0").as("req_id"),
          concat(lit("nil@rm-"), ((rlm + 1) % 10).cast("string"))
            .as("user_id")))
        .union(base.filter(m === 2 || m === 3).select(
          lpad(o.cast("string"), 12, "0").as("req_id"),
          concat(lit("nil@rm-"), rlm.cast("string")).as("user_id")))
      val reqPerms = base.filter(m <= 6).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        lit("READ").as("permission"))
        .union(base.filter(m === 2).select(
          lpad(o.cast("string"), 12, "0").as("req_id"),
          lit("WRITE").as("permission")))
      val reqRoles = base.filter(m >= 7).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("ro-"), rlm.cast("string"), lit("-0")).as("role_id"))
        .union(base.filter(m >= 7).select(
          lpad(o.cast("string"), 12, "0").as("req_id"),
          concat(lit("ro-"), rlm.cast("string"), lit("-1")).as("role_id")))
        .union(base.filter(m === 8).select(
          lpad(o.cast("string"), 12, "0").as("req_id"),
          concat(lit("ro-"), rlm.cast("string"), lit("-9")).as("role_id")))
      RealmRoles.decide(reqs, reqUsers, reqPerms, reqRoles, authDocs,
        authRoles, assignments, reducers).orderBy("req_id")
    },

    // GetUser point read (get_user.rs:90-168): auth-first, id parse,
    // then the point read.
    "gu1_get_user" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 79).cast("long") % 4
      val users = graft.Tables.customer(s, d).select(
        concat(lit("U"), lpad(col("c_custkey").cast("string"), 8, "0"))
          .as("user_id"),
        col("c_name").as("name"),
        (col("c_custkey") % 4).as("n_subjects"))
      val reqs = graft.Tables.orders(s, d).filter(o % 79 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("U"), lpad((o % 1600).cast("string"), 8, "0"))
          .as("user_id"),
        (k =!= 0).as("authorized"),
        (k =!= 1).as("id_parses"))
      Reads.getUsers(reqs, users).orderBy("req_id")
    },

    // GetGroup transactional pair read (get_group.rs:48-77,131-190):
    // GroupNotFound vs the distinct AuthDocNotFound inconsistency.
    "gg1_get_group" -> { (s, d) =>
      val o = col("o_orderkey")
      val c = col("c_custkey")
      val base = graft.Tables.customer(s, d).filter(c < 200)
      val gid = concat(lit("G"), lpad(c.cast("string"), 4, "0"))
      val groups = base.select(gid.as("group_id"),
        concat(lit("grp "), c.cast("string")).as("name"))
      val auth = base.filter(c % 5 =!= 0).select(gid.as("group_id"),
        ((c % 6) + 1).as("n_roles"))
      val reqs = graft.Tables.orders(s, d).filter(o % 83 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("G"), lpad((o % 260).cast("string"), 4, "0"))
          .as("group_id"))
      Reads.getGroups(reqs, groups, auth).orderBy("req_id")
    },

    // GetRealmConfig point read (get_realm_config.rs:73-96).
    "grc1_get_realm_config" -> { (s, d) =>
      val o = col("o_orderkey")
      val configs = graft.Tables.nation(s, d).select(
        concat(lit("realm-"), col("n_nationkey").cast("string"))
          .as("realm_id"),
        col("n_name").as("description"),
        ((col("n_nationkey") % 5) + 1).as("n_nodes"))
      val reqs = graft.Tables.orders(s, d).filter(o % 89 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("realm-"), (o % 40).cast("string")).as("realm_id"))
      Reads.getRealmConfigs(reqs, configs).orderBy("req_id")
    },

    // Dashboard invalidation predicate (dashboard.rs:23-39): a sync-outbox
    // batch notifies iff ANY target kind is dashboard-relevant.
    "dash1_dashboard_notify" -> { (s, d) =>
      val l = graft.Tables.lineitem(s, d)
      val kinds = Reads.DashboardKinds ++
        Seq("WatchInterest", "WatchSubscription", "NodeInfo")
      val kindCol = kinds.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (kind, i)) =>
          when(col("l_partkey") % 13 === i, kind).otherwise(acc)
      }
      val events = l.filter(col("l_orderkey") % 17 === 0).select(
        (col("l_orderkey") % 500).as("batch_id"),
        kindCol.as("target_kind"))
      Reads.dashboardNotify(events).orderBy("batch_id")
    },

    // CreateRealm genesis plan (create_realm.rs:80-330; placement.rs;
    // realm.rs:121-138,423-465): location trim/cap, weight clamp, root
    // band pool + creator range + handle bindings, seeded strategies,
    // realm_admin role, ordered admin-reducer event counts.
    "crr1_create_realm" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 71).cast("long") % 6
      val reqs = graft.Tables.orders(s, d).filter(o % 71 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("realm-"), (o % 9).cast("string")).as("realm_id"),
        concat(lit("nd-"), (o % 5).cast("string")).as("node_id"),
        concat(lit("desc "), o.cast("string")).as("description"),
        when(k === 0, lit(null).cast("string"))
          .when(k === 1, concat(lit("  eu-"), (o % 3).cast("string"),
            lit("  ")))
          .when(k === 2, lit("   "))
          .when(k === 3, concat(lit("L"), lpad(lit("x"), 70, "x")))
          .otherwise(concat(lit("us-"), (o % 4).cast("string")))
          .as("node_location"),
        when(k === 4, lit(0L)).when(k === 5, lit(2000000L))
          .when(k === 1, lit(250L)).otherwise(lit(null).cast("long"))
          .as("node_weight"),
        when(o % 3 =!= 0, concat(lit("idp-"), (o % 7).cast("string")))
          .otherwise(lit(null).cast("string")).as("oidc1_id"),
        when(o % 4 === 0, concat(lit("adp-"), (o % 5).cast("string")))
          .otherwise(lit(null).cast("string")).as("oidc2_id"))
      Realms.createRealmPlan(reqs).orderBy("req_id")
    },

    // CreateToken verdicts (create_token.rs:46-160): Local rejection,
    // strictly-after expiry, 12-calendar-month default, Server vs
    // Management claim shape.
    "ct1_create_token" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 73).cast("long") % 5
      val iat = lit(1700000000L) + (o % 1000000)
      val reqs = graft.Tables.orders(s, d).filter(o % 73 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(k === 0, "Local").when(k === 1 || k === 2, "Management")
          .otherwise("Server").as("capability"),
        iat.as("iat_s"),
        when(k === 1, iat + (o % 50000) + 1)   // valid explicit expiry
          .when(k === 3, iat)                   // equal -> InvalidTimestamp
          .when(k === 4, iat - 10)              // before -> InvalidTimestamp
          .otherwise(lit(null).cast("long")).as("expiry_s"))
      Realms.tokenVerdicts(reqs).orderBy("req_id")
    },

    // CreateMetadataDocument admission (create_metadata_document.rs):
    // payload-valid gate, registry existence, acceptance-fence idempotent
    // replay vs conflict (exact-config match), in-batch first-wins fold,
    // placement-from-id fail-closed arms, derived record fields.
    "cmd1_create_document" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 41).cast("long") % 6
      val x = o % 600
      val docs = graft.Tables.documents(s, d).filter(col("doc_id") < 600)
      val did = concat(lit("D"), lpad(col("doc_id").cast("string"), 6, "0"))
      val registry = docs.filter(col("doc_id") % 7 === 0)
        .select(did.as("document_id"))
      val acceptance = docs.filter(col("doc_id") % 13 === 0).select(
        did.as("document_id"), lit("r1").as("a_realm"),
        concat(lit("g"), (col("doc_id") % 5).cast("string")).as("a_group"),
        concat(lit("p/"), col("doc_id").cast("string")).as("a_path"),
        (col("doc_id") % 2 === 0).as("a_public"),
        concat(lit("E"), lpad(col("doc_id").cast("string"), 8, "0"))
          .as("a_event_id"))
      val placements = docs.filter(col("doc_id") % 37 =!= 0).select(
        did.as("document_id"),
        when(col("doc_id") % 31 === 0, "Workspace").otherwise("Metadata")
          .as("doc_class"),
        when(col("doc_id") % 2 === 0, "Realm").otherwise("Group")
          .as("scope_kind"),
        when(col("doc_id") % 2 === 0,
          when(col("doc_id") % 29 === 0, "r2").otherwise("r1"))
          .otherwise(when(col("doc_id") % 23 === 0, "g-x")
            .otherwise(concat(lit("g"), (col("doc_id") % 5).cast("string"))))
          .as("scope_id"),
        (col("doc_id") % 19 =!= 0).as("is_holder"))
      val reqs = graft.Tables.orders(s, d).filter(o % 41 === 0).select(
        o.as("seq"),
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("D"), lpad(x.cast("string"), 6, "0")).as("document_id"),
        lit("r1").as("realm_id"),
        concat(lit("g"), (x % 5).cast("string")).as("group_id"),
        when(k === 0, concat(lit("  /p/"), x.cast("string"), lit("/ ")))
          .otherwise(concat(lit("p/"), x.cast("string")))
          .as("document_path"),
        when(k === 1, x % 2 =!= 0).otherwise(x % 2 === 0).as("public"),
        (k =!= 2).as("payload_valid"),
        (k === 3).as("skip_existing"))
      MetadataDocs.createVerdicts(reqs, registry, acceptance, placements)
        .orderBy("req_id")
    },

    // DeleteMetadataDocument verdicts (delete_metadata_document.rs):
    // (group,document)-keyed read, in-batch second delete NotFound,
    // tombstone + deleted_after_event_id + prune job + 3 outbox records.
    "dmd1_delete_document" -> { (s, d) =>
      val o = col("o_orderkey")
      val cls = (o / 53).cast("long") % 4
      val doc = o % 97
      val registry = graft.sparql.RdfTables.registry(s, d)
        .withColumn("last_event_id",
          lpad(((col("document_id").cast("long") * 7) % 100000)
            .cast("string"), 8, "0"))
      val reqs = graft.Tables.orders(s, d).filter(o % 53 === 0).select(
        o.as("seq"),
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(cls === 1, "grp-x")
          .otherwise(concat(lit("grp-"), (doc % 10).cast("string")))
          .as("group_id"),
        when(cls === 0, "999999").otherwise(doc.cast("string"))
          .as("document_id"))
      MetadataDocs.deleteVerdicts(reqs, registry).orderBy("req_id")
    },

    // UpdateMetadataDocument non-payload ladder
    // (update_metadata_document.rs:130-169,360-470): NotFound before
    // validation, crate revalidation for ReplaceRoCrate, the real
    // validate_entity_jsonld rules for the upserts (EntityJson UDF over
    // constructed JSON), public flip + audit op + materialization drain.
    "umd1_update_document" -> { (s, d) =>
      val o = col("o_orderkey")
      val k = (o / 67).cast("long") % 11
      val doc = o % 490
      val registry = graft.sparql.RdfTables.registry(s, d)
      val xs = o.cast("string")
      val jsonld =
        when(k === 2, concat(lit("{\"@id\":\"e-"), xs,
          lit("\",\"@type\":\"Dataset\",\"name\":\"doc "), xs, lit("\"}")))
          .when(k === 3, concat(lit("{\"@id\":\"e-"), xs,
            lit("\",\"@type\":[\"Dataset\",\"Thing\"],\"name\":\"doc "),
            xs, lit("\"}")))
          .when(k === 4, "{oops")
          .when(k === 5, "[1, 2]")
          .when(k === 6, """{"@graph":[],"@id":"e","@type":"T","name":"n"}""")
          .when(k === 7, """{"@id":"   ","@type":"T","name":"n"}""")
          .when(k === 8, """{"@id":"e","name":"n"}""")
          .when(k === 9, """{"@id":"e","@type":[],"name":"n"}""")
          .when(k === 10, """{"@id":"e","@type":"T"}""")
      val reqs = graft.Tables.orders(s, d).filter(o % 67 === 0).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        concat(lit("grp-"), (doc % 10).cast("string")).as("group_id"),
        when(o % 13 === 0, "999999").otherwise(doc.cast("string"))
          .as("document_id"),
        (o % 3 === 0).as("public"),
        when(k <= 1, "ReplaceRoCrate")
          .when(k % 2 === 0, "UpsertDataEntity")
          .otherwise("UpsertContextualEntity").as("mutation"),
        jsonld.as("jsonld"),
        (k =!= 1).as("crate_valid"))
      MetadataDocs.updateVerdicts(reqs, registry).orderBy("req_id")
    },

    // OIDC register-or-get fold (register_or_get_oidc_user.rs:154-345):
    // structured subject key, index hit -> adopt (no announce), miss ->
    // create under the request's fresh id, in-batch same-claim requests
    // resolve first-wins (the second adopts the first's id).
    "og1_oidc_register" -> { (s, d) =>
      val o = col("o_orderkey")
      val c = col("c_custkey")
      val idx = graft.Tables.customer(s, d).filter(c % 3 === 0).select(
        Oidc.subjectKey(
          concat(lit("https://idp-"), (c % 5).cast("string"), lit(".example")),
          concat(lit("sub-"), c.cast("string"))).as("subject_key"),
        concat(lit("U"), lpad(c.cast("string"), 8, "0")).as("user_id"))
      val x = o % 1500
      val reqs = graft.Tables.orders(s, d).filter(o % 31 === 0).select(
        o.as("seq"),
        concat(lit("rg"), lpad(o.cast("string"), 12, "0")).as("req_id"),
        concat(lit("https://idp-"), (x % 5).cast("string"), lit(".example"))
          .as("issuer"),
        concat(lit("sub-"), x.cast("string")).as("sub"),
        concat(lit("N"), lpad(o.cast("string"), 12, "0")).as("new_user_id"))
      Oidc.registerOrGet(reqs, idx).orderBy("req_id")
    },

    // GetOidcUser point read (get_oidc_user.rs): subject-index hit ->
    // user read -> Ok; index miss -> UserNotFound; DANGLING index row
    // (user record deleted) -> UserNotFound on the second hop
    "og2_get_oidc_user" -> { (s, d) =>
      val o = col("o_orderkey")
      val c = col("c_custkey")
      val cust = graft.Tables.customer(s, d)
      val idx = cust.filter(c % 3 === 0).select(
        Oidc.subjectKey(
          concat(lit("https://idp-"), (c % 5).cast("string"),
            lit(".example")),
          concat(lit("sub-"), c.cast("string"))).as("subject_key"),
        when(c % 19 === 0, concat(lit("Z"), lpad(c.cast("string"), 8, "0")))
          .otherwise(concat(lit("U"), lpad(c.cast("string"), 8, "0")))
          .as("user_id"))
      val users = cust.select(
        concat(lit("U"), lpad(c.cast("string"), 8, "0")).as("user_id"),
        concat(lit("Customer#"), c.cast("string")).as("display_name"),
        (lit(1700000000000L) + c * 1000).as("created_at_ms"))
      val x = o % 1500
      val reqs = graft.Tables.orders(s, d).filter(o % 41 === 0).select(
        concat(lit("og"), lpad(o.cast("string"), 12, "0")).as("req_id"),
        concat(lit("https://idp-"), (x % 5).cast("string"),
          lit(".example")).as("issuer"),
        concat(lit("sub-"), x.cast("string")).as("sub"))
      Oidc.getUsers(reqs, idx, users).orderBy("req_id")
    },

    // Canonical-subject walk (ensure_canonical_user_token_subject.rs):
    // user read (absent/corrupt -> Unauthorized), empty claim list -> Ok
    // with zero reads, ordered index walk stopping at the first absent or
    // foreign-pointing row (Forbidden), n_checked = reads issued.
    "ecs1_canonical_subject" -> { (s, d) =>
      val o = col("o_orderkey")
      val c = col("c_custkey")
      val cust = graft.Tables.customer(s, d)
      val users = cust.select(
        concat(lit("U"), lpad(c.cast("string"), 8, "0")).as("user_id"),
        when(c % 97 === 0, concat(lit("X"), lpad(c.cast("string"), 8, "0")))
          .otherwise(concat(lit("U"), lpad(c.cast("string"), 8, "0")))
          .as("stored_id"))
      val subj = cust.filter(c % 11 =!= 0)
        .select(c, explode(sequence(lit(0L), c % 4)).as("ord"))
        .select(
          concat(lit("U"), lpad(c.cast("string"), 8, "0")).as("user_id"),
          col("ord"),
          Oidc.subjectKey(
            concat(lit("https://idp-"), (c % 5).cast("string"),
              lit(".example")),
            concat(lit("sub-"), c.cast("string"), lit("-"),
              col("ord").cast("string"))).as("subject_key"))
      val idx = cust.filter(c % 11 =!= 0)
        .select(c, explode(sequence(lit(0L), c % 4)).as("ord"))
        .filter((c + col("ord")) % 13 =!= 0)
        .select(
          Oidc.subjectKey(
            concat(lit("https://idp-"), (c % 5).cast("string"),
              lit(".example")),
            concat(lit("sub-"), c.cast("string"), lit("-"),
              col("ord").cast("string"))).as("subject_key"),
          when((c + col("ord")) % 17 === 0,
            concat(lit("U"), lpad((c + 1).cast("string"), 8, "0")))
            .otherwise(concat(lit("U"), lpad(c.cast("string"), 8, "0")))
            .as("user_id"))
      val reqs = graft.Tables.orders(s, d).filter(o % 37 === 0).select(
        concat(lit("ecs"), lpad(o.cast("string"), 12, "0")).as("req_id"),
        concat(lit("U"), lpad((o % 1600).cast("string"), 8, "0"))
          .as("user_id"))
      Oidc.canonicalSubject(reqs, users, subj, idx).orderBy("req_id")
    },

    // UpdateUser ladder (update_user.rs + user_update_validation.rs):
    // realm isolation + actor==auth-user, restricted-self refusal,
    // unrestricted self skipping the permission check, stored-id
    // corruption guard, trimmed 1..=256-byte name, removals validated
    // before sets (key then value per pair), 128-cap on the POST-update
    // count, remove-before-set overlap, reducer TargetMismatch last.
    "uu1_update_user" -> { (s, d) =>
      val o = col("o_orderkey")
      val cls = (o / 3).cast("long") % 14
      val t1 = (o % 149) + 1
      val t2 = when(t1 % 53 === 0, t1 + 1).otherwise(t1)
      val t3 = when(t2 === 149, 148L).otherwise(t2)
      val tgtN = when(cls === 4, 999999L)
        .when(cls === 5, ((o % 2) + 1) * 53)
        .when(cls === 13, 149L).otherwise(t3)
      val tgt = concat(lit("U"), lpad(tgtN.cast("string"), 6, "0"))
      val base = graft.Tables.orders(s, d).filter(o % 47 === 19)
        .select(lpad(o.cast("string"), 12, "0").as("req_id"),
          cls.as("cls"), tgt.as("target_user"))
      val c = col("cls")
      val authUser = when(c === 2 || c === 12, col("target_user"))
        .otherwise(lit("admin"))
      val reqs = base.select(col("req_id"), col("target_user"),
        when(c === 0, "r2").otherwise("r1").as("target_realm"),
        lit("r1").as("auth_realm"), lit("r1").as("actor_realm"),
        lit("r1").as("self_realm"),
        authUser.as("auth_user"),
        when(c === 1, "other").otherwise(authUser).as("actor_user"),
        (c === 2).as("restricted"),
        (c =!= 3 && c =!= 12).as("authorized"),
        when(c === 6, "   ").when(c === 7, repeat(lit("N"), 257))
          .when(c === 11, " New Name ")
          .otherwise(lit(null).cast("string")).as("new_name"))
      val rm = base.filter(c === 8).select(col("req_id"),
        lit(0L).as("ord"), lit("bad key!").as("key"))
        .unionAll(base.filter(c === 11).select(col("req_id"),
          lit(0L).as("ord"), lit("b0").as("key")))
        .unionAll(base.filter(c === 11).select(col("req_id"),
          lit(1L).as("ord"), lit("rs").as("key")))
      val st = base.filter(c === 9).select(col("req_id"),
        lit(0L).as("ord"), lit("ok").as("key"), lit("\u0001x").as("value"))
        .unionAll(base.filter(c === 10)
          .crossJoin(s.range(0, 130).select(col("id").as("i")))
          .select(col("req_id"), col("i").as("ord"),
            concat(lit("k"), col("i").cast("string")).as("key"),
            lit("v").as("value")))
        .unionAll(base.filter(c === 11).select(col("req_id"),
          lit(0L).as("ord"), lit("rs").as("key"), lit("v2").as("value")))
        .unionAll(base.filter(c === 11).select(col("req_id"),
          lit(1L).as("ord"), lit("nk").as("key"), lit("v3").as("value")))
      val users = graft.Tables.customer(s, d).select(
        concat(lit("U"), lpad(col("c_custkey").cast("string"), 6, "0"))
          .as("user_id"),
        when(col("c_custkey") % 53 === 0, "CORRUPT")
          .otherwise(concat(lit("U"),
            lpad(col("c_custkey").cast("string"), 6, "0"))).as("stored_id"),
        col("c_name").as("name"))
      val baseAttrs = graft.Tables.customer(s, d)
        .crossJoin(s.range(0, 5).select(col("id").as("j")))
        .filter(col("j") < (col("c_custkey") % 5) + 1)
        .select(concat(lit("U"),
          lpad(col("c_custkey").cast("string"), 6, "0")).as("user_id"),
          concat(lit("b"), col("j").cast("string")).as("key"))
      val reducers = s.range(0, 1).select(lit("U000149").as("user_id"),
        lit("other").as("stored_target"))
      UpdateUser.verdicts(reqs, rm, st, users, baseAttrs, reducers)
        .orderBy("req_id")
    },

    // Group role & membership admin (add/remove_group_role,
    // add/remove_user_to/from_group): validate-before-auth on add_role,
    // reserved/nil-realm/public-non-READ payload arms, missing-auth-doc ==
    // GroupNotFound on add vs AuthDocNotFound on the others, exact-named
    // admin role undeletable, self-leave skipping the permission check,
    // explicit vs implicit removal lists, and the last-admin guard.
    "gm1_group_admin" -> { (s, d) =>
      val o = col("o_orderkey")
      val cls = (o / 4).cast("long") % 9
      val base = graft.Tables.orders(s, d).filter(o % 43 === 17)
        .select(lpad(o.cast("string"), 12, "0").as("req_id"),
          (o % 4).as("opn"), cls.as("cls"), o.as("o"))
      val opName = when(col("opn") === 0, "add_role")
        .when(col("opn") === 1, "remove_role")
        .when(col("opn") === 2, "add_user").otherwise("remove_user")
      val c = col("cls")
      val grp = when(c === 6, "GX").when(c === 7, "G9").when(c === 8, "G7")
        .otherwise(concat(lit("G"), (col("o") % 7).cast("string")))
      val realm = concat(lit("realm-"), (col("o") % 3).cast("string"))
      val userId = when(c === 0, "nil")
        .when(col("opn") === 3 && c === 3,
          concat(lit("adm"), (col("o") % 7).cast("string")))
        .otherwise(concat(lit("m"), (col("o") % 12).cast("string")))
      val reqs = base.select(col("req_id"), opName.as("op"),
        grp.as("group_id"), realm.as("realm_id"),
        when(col("opn") >= 2, userId).otherwise("x").as("user_id"),
        when(col("opn") === 3 && c === 1, userId).otherwise("actor0")
          .as("actor_id"),
        (c =!= 5).as("authorized"),
        when(col("opn") === 0,
          when(c === 0, " admin ").when(c === 1, "user")
            .otherwise(concat(lit("nr"), col("o").cast("string"))))
          .otherwise("x").as("role_name"),
        when(col("opn") === 1,
          when(c === 0, "r-none").when(c === 1, "r-admin")
            .otherwise("r-dev")).otherwise("x").as("role_id"),
        (col("opn") === 3 && (col("o") % 2 === 0 || c === 2))
          .as("has_role_list"))
      val memberOps = base.filter(col("opn") >= 2)
      val reqRoles = memberOps.select(col("req_id"), lit("r-dev").as("role_id"))
        .unionAll(memberOps.filter(col("opn") === 2).select(col("req_id"),
          when(col("cls") === 1, "r-none").otherwise("r-ops").as("role_id")))
        .unionAll(memberOps.filter(col("opn") === 3).select(col("req_id"),
          when(col("cls") === 2, "r-none").otherwise("r-admin").as("role_id")))
      val addRole = base.filter(col("opn") === 0)
      val reqUsers = addRole.select(col("req_id"), lit("m1").as("user_id"))
        .unionAll(addRole.select(col("req_id"),
          when(col("cls") === 2, "nil@realm-OTHER")
            .when(col("cls") === 3 || col("cls") === 4,
              concat(lit("nil@realm-"), (col("o") % 3).cast("string")))
            .otherwise("m2").as("user_id")))
      val reqPerms = addRole.select(col("req_id"), lit("READ").as("permission"))
        .unionAll(addRole.filter(col("cls") =!= 4)
          .select(col("req_id"), lit("WRITE").as("permission")))
      val groups = s.range(0, 10).select(
        concat(lit("G"), col("id").cast("string")).as("group_id"))
      val authDocs = s.range(0, 9).select(
        concat(lit("G"), col("id").cast("string")).as("group_id"))
      val roleNames = s.createDataFrame(Seq(
        ("r-admin", "admin"), ("r-dev", "dev"), ("r-ops", "ops")))
        .toDF("role_id", "role_name")
      val authRoles = authDocs.crossJoin(roleNames)
      val g9 = s.range(0, 9).select(col("id").as("g"))
      val assignments =
        g9.select(concat(lit("G"), col("g").cast("string")).as("group_id"),
          lit("r-admin").as("role_id"),
          concat(lit("adm"), col("g").cast("string")).as("user_id"))
        .unionAll(g9.filter(col("g") % 2 === 0).select(
          concat(lit("G"), col("g").cast("string")).as("group_id"),
          lit("r-admin").as("role_id"), lit("adm9").as("user_id")))
        .unionAll(g9.crossJoin(s.range(0, 5).select(col("id").as("k")))
          .select(concat(lit("G"), col("g").cast("string")).as("group_id"),
            lit("r-dev").as("role_id"),
            concat(lit("m"), col("k").cast("string")).as("user_id")))
        .unionAll(g9.crossJoin(s.range(2, 7).select(col("id").as("k")))
          .select(concat(lit("G"), col("g").cast("string")).as("group_id"),
            lit("r-ops").as("role_id"),
            concat(lit("m"), col("k").cast("string")).as("user_id")))
      val reducers = s.range(0, 1).select(lit("G7").as("group_id"),
        lit("corrupt").as("stored_target"))
      GroupAdmin.decide(reqs, reqRoles, reqUsers, reqPerms, groups,
        authDocs, authRoles, assignments, reducers).orderBy("req_id")
    },

    // User-access credential ops (create/get/list/revoke_user_access.rs +
    // blob.rs UserAccess): create key ladder (empty/too-long -> length,
    // non-alnum; NO existence read - an existing key still admits), get
    // with inclusive-expiry + revoked auth predicates, idempotent revoke
    // (already-revoked keeps its stamp), identity-filtered list counting
    // dead credentials too.
    "ua1_user_access" -> { (s, d) =>
      val o = col("o_orderkey")
      val creds = graft.Tables.customer(s, d).select(
        concat(lit("AK"), lpad(col("c_custkey").cast("string"), 8, "0"))
          .as("access_key"),
        concat(lit("u"), (col("c_custkey") % 50).cast("string"))
          .as("user_id"),
        concat(lit("grp-"), (col("c_custkey") % 5).cast("string"))
          .as("group_id"),
        (lit(1700000000000L) + ((col("c_custkey") % 200) - 100) * 86400000L)
          .as("expiry_ms"),
        when(col("c_custkey") % 7 === 0,
          lit(1699990000000L) + col("c_custkey") % 1000)
          .otherwise(lit(null).cast("long")).as("revoked_at_ms"))
      val existingKey = concat(lit("AK"),
        lpad(((o % 149) + 1).cast("string"), 8, "0"))
      val c2 = o % 5
      val reqs = graft.Tables.orders(s, d).filter(o % 41 === 11).select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(o % 4 === 0, "create").when(o % 4 === 1, "get")
          .when(o % 4 === 2, "revoke").otherwise("list").as("op"),
        when(o % 4 === 0,
          when(c2 === 0, "").when(c2 === 1, repeat(lit("K"), 129))
            .when(c2 === 2, "bad-key!")
            .when(c2 === 3, existingKey)
            .otherwise(concat(lit("ok"), o.cast("string"))))
          .when(o % 4 === 1 || o % 4 === 2,
            when(o % 3 === 0, existingKey)
              .otherwise(concat(lit("AKX"), o.cast("string"))))
          .otherwise(lit("x")).as("key_id"),
        concat(lit("u"), (o % 60).cast("string")).as("user_id"),
        (lit(1700000000000L) + (o % 5) * 1000).as("now_ms"))
      UserAccess.verdicts(reqs, creds).orderBy("req_id")
    },

    // PutBucketCors admission (api cors.rs:21-38,107-186 + bucket_cors.rs
    // Put path): zero-rules config arm, per-rule first-fail in declaration
    // order (missing methods/origins, negative max_age, then value lists in
    // struct order with trim/uppercase normalization), bucket NotFound; the
    // admitted NORMALIZED config is fingerprinted (norm_sig) and is the
    // rule shape cors1's decision engine consumes.
    "bc1_put_bucket_cors" -> { (s, d) =>
      val o = col("o_orderkey")
      val kls = o % 12
      val base = graft.Tables.orders(s, d).filter(o % 37 === 7)
        .select(lpad(o.cast("string"), 12, "0").as("req_id"),
          kls.as("k"), o.as("o"))
      val k = col("k")
      def mv(ruleOrd: Int, field: String, valOrd: Int,
          value: org.apache.spark.sql.Column,
          cond: org.apache.spark.sql.Column) =
        base.filter(cond).select(col("req_id"),
          lit(ruleOrd.toLong).as("rule_ord"), lit(field).as("field"),
          lit(valOrd.toLong).as("val_ord"), value.as("value"))
      val vals = Seq(
        mv(0, "method", 0, lit(" get "), k =!= 0),
        mv(0, "method", 1, lit("Put"), k =!= 0),
        mv(0, "origin", 0, lit(" https://a.example "), k =!= 0),
        mv(0, "origin", 1, lit("*"), k =!= 0),
        mv(1, "method", 0, when(k === 5, "  ").when(k === 6, "PATCH")
          .otherwise("post"), k =!= 0 && k =!= 1),
        mv(1, "method", 1, lit("delete"), k =!= 0 && k =!= 1),
        mv(1, "origin", 0, when(k === 7 || k === 6, " ")
          .otherwise("https://b.example"), k =!= 0 && k =!= 2),
        mv(1, "allowed_header", 0, when(k === 8, " ").otherwise(" X-Ok "),
          k === 8 || k === 11),
        mv(1, "expose_header", 0, when(k === 9, " ").otherwise("ETag"),
          k === 9 || k === 11)
      ).reduce(_.unionAll(_))
      val rules = base.filter(k =!= 0).select(col("req_id"),
        lit(0L).as("rule_ord"),
        when(k === 3, -1L).when(col("o") % 3 === 0, lit(null).cast("long"))
          .otherwise(3600L).as("max_age"))
        .unionAll(base.filter(k =!= 0).select(col("req_id"),
          lit(1L).as("rule_ord"), lit(null).cast("long").as("max_age")))
      val reqs = base.select(col("req_id"),
        when(k === 10, "bkt-9")
          .otherwise(concat(lit("bkt-"), (col("o") % 4).cast("string")))
          .as("bucket"))
      Cors.putCorsVerdicts(reqs, rules, vals, ObjectTables.buckets(s, d))
        .orderBy("req_id")
    },

    // SetRealmQuota validation ladder (set_realm_quota.rs:378-436 +
    // write-path ordering :129-160): validate-before-document-read, ordered
    // override scan (dup / grace<100 / grace-without-quota), dup user caps,
    // RealmConfigNotFound, reducer TargetMismatch; Ok rows resolve the
    // probe group's effective ceiling through the same realm.rs ladder
    // po1's quota gate reads.
    "sq1_set_quota" -> { (s, d) =>
      val o = col("o_orderkey")
      val kls = o % 11
      val base = graft.Tables.orders(s, d).filter(o % 31 === 5)
      val reqs = base.select(
        lpad(o.cast("string"), 12, "0").as("req_id"),
        when(kls === 8, "realm-x").when(kls === 9, "realm-t")
          .otherwise(concat(lit("realm-"), (o % 4).cast("string")))
          .as("realm_id"),
        when(kls === 0, 0L).when(kls === 1, 101L).otherwise(85L)
          .as("warn_pct"),
        when(kls === 2, 99L).otherwise(110L).as("grace_pct"),
        (kls === 3).as("has_max_devices"),
        when(o % 3 === 0, lit(null).cast("long"))
          .otherwise(((o % 5) + 1) * 1000000L).as("default_quota_bytes"))
      val ords = s.range(0, 3).select(col("id").as("ord"))
      val ovr = base.select(lpad(o.cast("string"), 12, "0").as("req_id"),
        o.as("__o"), kls.as("__k")).crossJoin(ords)
        .select(col("req_id"), col("ord"),
          when(col("__k") === 4 && col("ord") === 2,
            concat(lit("g"), (col("__o") % 5).cast("string")))
            .otherwise(concat(lit("g"),
              ((col("__o") + col("ord")) % 5).cast("string"))).as("group_id"),
          when(col("__k") === 6 && col("ord") === 1, lit(null).cast("long"))
            .otherwise((col("ord") + 1) * 1000000L).as("quota_bytes"),
          when(col("__k") === 5 && col("ord") === 1, 90L)
            .when(col("__k") === 6 && col("ord") === 1, 120L)
            .when(col("__k") === 10 && col("ord") === 2, 150L)
            .otherwise(lit(null).cast("long")).as("grace"))
      val caps = base.select(lpad(o.cast("string"), 12, "0").as("req_id"),
        o.as("__o"), kls.as("__k"))
        .crossJoin(s.range(0, 2).select(col("id").as("ord")))
        .select(col("req_id"), col("ord"),
          when(col("__k") === 7, "u-dup")
            .otherwise(concat(lit("u"),
              ((col("__o") + col("ord")) % 7).cast("string"))).as("user_id"))
      val realms = s.range(0, 5).select(
        when(col("id") === 4, "realm-t")
          .otherwise(concat(lit("realm-"), col("id").cast("string")))
          .as("realm_id"))
      val reducers = s.range(0, 1).select(lit("realm-t").as("realm_id"),
        lit("other-target").as("stored_target"))
      SetQuota.verdicts(reqs, ovr, caps, realms, reducers, "g1")
        .orderBy("req_id")
    },

    // Summary-cache semantics end-to-end (summary_cache.rs:33-110): one
    // summary per (graph, cursor); a cursor advance misses WITHOUT evicting
    // the old entry, then supersedes it on insert; remove-by-graph (the
    // document-sync invalidation) and the 30 s TTL both evict. The trace
    // records actual cache behavior; the oracle pins the hit/miss sequence
    // AND the summary strings, so a cache serving a stale or cross-cursor
    // summary diverges immediately.
    "qc2_summary_cache" -> { (s, d) =>
      val quads = graft.Store.quads(s, d)
      val g = "graph:42"
      def summarize(df: DataFrame): String = {
        // bounded one-graph aggregate (summaries are small capped strings
        // by contract — SUMMARY_CACHE_BYTES / 16 KiB average)
        val r = df.filter(col("graph_iri") === g)
          .agg(count(lit(1)), countDistinct(col("subject"))).head()
        s"triples=${r.getLong(0)};subjects=${r.getLong(1)}"
      }
      val v0 = quads
      val v1 = quads.filter(col("predicate") =!= ConformsTo) // the doc sync
      var now = 0L
      val cache = new graft.cache.SummaryCache(clock = () => now)
      def step(name: String, store: DataFrame, cursor: String,
          insertOnMiss: Boolean = true): (String, Boolean, String) =
        cache.get(g, cursor) match {
          case Some(sum) => (name, true, sum)
          case None =>
            val sum = summarize(store)
            if (insertOnMiss) cache.insert(g, cursor, sum)
            (name, false, sum)
        }
      val trace = Seq(
        step("s1_cold", v0, "c1"),
        step("s2_hit", v0, "c1"),
        step("s3_cursor_advance", v1, "c2"),
        step("s4_hit_new_cursor", v1, "c2"),
        // the c1 entry was superseded (one summary per graph) — a lagging
        // reader recomputes but must NOT clobber the newer cursor's entry
        step("s5_stale_cursor", v0, "c1", insertOnMiss = false),
        { cache.remove(g); step("s6_removed", v1, "c2") },
        { now += 31000; step("s7_ttl_expired", v1, "c2") })
      import s.implicits._
      trace.toDF("step", "cache_hit", "summary").orderBy("step")
    },

    // Batch DeleteObjects verdicts (delete_objects.rs / delete_object.rs):
    // four planted request classes — c0 unversioned delete (tombstone,
    // always OK), c1 versioned delete of an existing version (permanent,
    // delete_marker reports the removed version's own state, head
    // transition reported), c2 versioned delete of a phantom version
    // (NoSuchVersion — version ids end in 1..7, the planted id ends in 9),
    // c3 unversioned delete of an absent key (still a tombstone: S3
    // semantics, delete_objects.rs:203-204).
    "cat13_delete_objects" -> { (s, d) =>
      val vv = versionsStoreCached(s, d)
      val sel = vv.filter(col("version_ord") % 13 === 0)
        .withColumn("c", (col("version_ord") / 13).cast("long") % 4)
      val nullV = lit(null).cast("string")
      val unv = sel.filter(col("c") === 0).select(
        col("bucket"), col("key"), nullV.as("req_version"),
        concat(lit("T"), col("version_ulid")).as("tomb_version"))
      val ver = sel.filter(col("c") === 1).select(
        col("bucket"), col("key"), col("version_ulid").as("req_version"),
        nullV.as("tomb_version"))
      val phantom = sel.filter(col("c") === 2).select(
        col("bucket"), col("key"),
        lpad((col("version_ord") - col("version_ord") % 10 + 9).cast("string"),
          12, "0").as("req_version"),
        nullV.as("tomb_version"))
      val absent = sel.filter(col("c") === 3).select(
        col("bucket"), concat(col("key"), lit(".x")).as("key"),
        nullV.as("req_version"),
        concat(lit("T"), col("version_ulid")).as("tomb_version"))
      ObjectOps.deleteVerdicts(vv,
        unv.unionByName(ver).unionByName(phantom).unionByName(absent))
        .orderBy(col("bucket"), col("key"),
          coalesce(col("req_version"), lit("")),
          coalesce(col("result_version"), lit("")))
    },

    // Conditional CopyObject source verdicts (copy_object.rs:56-166):
    // nine head-targeted classes covering the AWS precedence matrix —
    // c0 unconditional, c1 if-match correct (quoted), c2 if-match wrong,
    // c3 if-match '*', c4 if-none-match '*', c5 if-unmodified-since
    // violated, c6 if-match correct OVERRIDING a violated
    // if-unmodified-since, c7 if-modified-since violated, c8 if-none-match
    // non-matching OVERRIDING a violated if-modified-since — plus explicit
    // version hits (e0: OK or DeleteMarker on tombstones), phantom
    // versions (e1: NoSuchVersion) and absent keys (a0: NoSuchKey).
    "cat14_copy_conditions" -> { (s, d) =>
      val vv = versionsStoreCached(s, d)
      val w = Window.partitionBy("bucket", "key")
        .orderBy(col("version_ord").desc, col("hash").desc)
      val hd = vv.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val sel = hd.filter(col("version_ord") % 51 === 0)
        .withColumn("c", (col("version_ord") / 51).cast("long") % 9)
        .withColumn("lm", (col("created_at_ms") / 1000).cast("long"))
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("long")
      val quoted = concat(lit("\""), col("hash"), lit("\""))
      val headReqs = sel.select(
        concat(lit("h"), col("c"), lit(":"), col("bucket"), lit("/"),
          col("key")).as("req_id"),
        col("bucket"), col("key"), nullS.as("src_version"),
        when(col("c") === 1 || col("c") === 6, quoted)
          .when(col("c") === 2, "deadbeef")
          .when(col("c") === 3, "*").as("if_match"),
        when(col("c") === 4, "*")
          .when(col("c") === 8, "deadbeef").as("if_none_match"),
        when(col("c") === 7 || col("c") === 8, col("lm") + 10)
          .cast("long").as("if_modified_s"),
        when(col("c") === 5 || col("c") === 6, col("lm") - 10)
          .cast("long").as("if_unmodified_s"))
      val exact = vv.filter(col("version_ord") % 57 === 0).select(
        concat(lit("e0:"), col("bucket"), lit("/"), col("key"), lit("@"),
          col("version_ulid")).as("req_id"),
        col("bucket"), col("key"), col("version_ulid").as("src_version"),
        nullS.as("if_match"), nullS.as("if_none_match"),
        nullL.as("if_modified_s"), nullL.as("if_unmodified_s"))
      val phantom = vv.filter(col("version_ord") % 59 === 0).select(
        concat(lit("e1:"), col("bucket"), lit("/"), col("key"), lit("@"),
          col("version_ulid")).as("req_id"),
        col("bucket"), col("key"),
        lpad((col("version_ord") - col("version_ord") % 10 + 9).cast("string"),
          12, "0").as("src_version"),
        nullS.as("if_match"), nullS.as("if_none_match"),
        nullL.as("if_modified_s"), nullL.as("if_unmodified_s"))
      val absent = sel.filter(col("c") === 0).select(
        concat(lit("a0:"), col("bucket"), lit("/"), col("key")).as("req_id"),
        col("bucket"), concat(col("key"), lit(".nope")).as("key"),
        nullS.as("src_version"),
        nullS.as("if_match"), nullS.as("if_none_match"),
        nullL.as("if_modified_s"), nullL.as("if_unmodified_s"))
      ObjectOps.copyVerdicts(vv,
        headReqs.unionByName(exact).unionByName(phantom).unionByName(absent))
        .orderBy("req_id")
    },

    // Blob-reclaim GC sweep (blob/reclaim.rs): 200 planted candidates —
    // vanished backends (b2) and retain strategies drop, in-grace rows stay
    // NotDue, stale rows whose location is gone (the 150..199 band and the
    // wrong-backend copies) drop, located copies still named by a live
    // version pin (the exact-copy check: same hash on another backend does
    // NOT pin), the unreferenced located band frees with its byte total
    "rc1_reclaim_sweep" -> { (s, d) =>
      import s.implicits._
      val NowS = 1700000000L
      val cand = s.range(0, 200).select(
        md5(col("id").cast("string")).as("blake3"),
        when(col("id") % 11 === 0, "b2")
          .when(col("id") % 7 === 3,
            when(col("id") % 2 === 0, "s3").otherwise("fs"))
          .otherwise(when(col("id") % 2 === 0, "fs").otherwise("s3"))
          .as("backend"),
        (lit(NowS) - (col("id") * 73) % 7200).as("enqueued_s"))
      val locs = s.range(0, 150).select(
        md5(col("id").cast("string")).as("blake3"),
        when(col("id") % 2 === 0, "fs").otherwise("s3").as("backend"),
        (col("id") * 1000 + 17).as("size"))
      val strat = Seq(("fs", 900L), ("s3", 3600L)).toDF("backend", "grace_s")
      val refs = ObjectTables.objects(s, d).filter(!col("is_delete_marker"))
        .select(col("hash").as("blake3")).distinct()
        .join(locs.select("blake3", "backend"), Seq("blake3"))
      Reclaim.sweepVerdicts(cand, locs, strat, refs, NowS)
        .orderBy("backend", "verdict")
    },

    // Unread-notification badge counts (notifications/unread.rs): five big
    // inboxes with unread rates 3-15% (the slow-rate ones cap on the
    // 2000-row examine window, the fast ones on the 100-count badge cap)
    // plus three small fully-scanned inboxes that report exact counts
    "nf1_unread_counts" -> { (s, d) =>
      Notifications.unreadCounts(NotificationTables.inbox(s, d))
        .orderBy("recipient")
    },

    // Inbox page (notifications/list.rs): newest-first with id tie-break
    // (u2's newest timestamp class holds ~a dozen notifications, so the
    // tie-break orders the page), limit+1 truncation look-ahead with the
    // last-returned cursor trailer, and a strictly-after tuple resume
    // exercising BOTH disjuncts (same-timestamp larger id, older timestamp)
    "nf2_list_notifications" -> { (s, d) =>
      val inbox = NotificationTables.inbox(s, d)
      Notifications.listPage(inbox, "u2", None, None, limit = 5)
        .withColumn("page", lit("p1"))
        .unionByName(
          Notifications.listPage(inbox, "u2", Some(1700004997000L),
            Some("000000104997"), limit = 8)
            .withColumn("page", lit("p2")))
        .orderBy(col("page"), col("created_at_ms").desc, col("notification_id"))
    },

    // Retention prune plan (notifications/prune.rs): the probe instant sits
    // 30d + 2500s past the fixture epoch, so half of each big inbox's
    // Transient rows are expired, the surviving transient tail caps at the
    // 500-newest rank, Direct rows (90d TTL) all keep, and the small c*
    // inboxes expire their transients wholesale
    "nf3_prune_plan" -> { (s, d) =>
      val inbox = NotificationTables.inbox(s, d)
        .withColumn("class",
          when(col("notification_id").cast("long") % 7 < 2, "Direct")
            .otherwise("Transient"))
      Notifications.prunePlan(inbox,
          nowMs = 1700000000000L + Notifications.TransientTtlMs + 2500000L)
        .orderBy("recipient", "class", "verdict")
    },

    // GA4GH DRS bulk resolution: every locator grammar (canonical W3ID,
    // W3ID-wrapped + bare versioned ARNs, ch ARNs), wrong-scope and
    // malformed probes; caller reads grp-0/grp-1 only (bkt-2 denies)
    "drs1_bulk_resolve" -> { (s, d) =>
      val o = ObjectTables.objectsFanned(s, d)
      val w3 = Drs.W3idPrefix
      def arnS3(node: String) = concat(lit(s"arn:aruna:rlm:$node:s3/"),
        col("bucket"), lit("/"), col("key"), lit("@"), col("version_ulid"))
      // one store scan builds the whole batch: the residue picks ~1/72 of
      // the capped window, the grammar variant branches on the residue
      val m = col("version_ord") % 503
      val picked = o.filter(col("version_ord") < 600000 &&
        m.isin(7, 20, 33, 46, 59, 72))
      val reqs = picked
        .select(
          when(m === 7, when(col("version_ord") % 2 === 0,
              concat(lit(w3), arnS3("n0"))).otherwise(arnS3("n0")))
            .when(m === 20, arnS3("n9"))
            .when(m === 33, concat(lit("arn:aruna:rlm:n0:s3/"), col("bucket"),
              lit("/"), col("key"), lit("@999999999999")))
            .when(m === 46, concat(lit(w3), col("hash"), col("hash")))
            .when(m === 59, concat(lit("arn:aruna:rlm:n0:ch/"), col("hash"),
              col("hash")))
            .otherwise(concat(lit("arn:aruna:xx:n0:ch/"), col("hash"),
              col("hash"))).as("object_id"))
        .unionByName {
          import s.implicits._
          Seq(w3 + "deadbeef", "arn:aruna:rlm:n0:s3/bkt-1", "gs://nope")
            .toDF("object_id")
        }
        .distinct()
      val readable = s.range(0, 2)
        .select(concat(lit("grp-"), col("id").cast("string")).as("group_id"))
      Drs.bulkResolve(reqs, o, ObjectTables.buckets(s, d), readable,
          localRealm = "rlm", localNode = "n0")
        .orderBy(col("object_id"))
    },

    // Bulk authorization decisions: request batch spans every ladder arm
    // (direct deny, narrow grant, public read incl. the foreign-everyone
    // and public-WRITE inert probes, token restrictions, cross-realm
    // scope miss, anonymous), rules from a 6-group x 6-role fixture
    "au1_permission_decisions" -> { (s, d) =>
      val o = ObjectTables.objects(s, d)
      val ord = col("version_ord")
      val g = ord % 6
      val realm = concat(lit("r"),
        when(ord % 13 === 0, (g + 1) % 2).otherwise(g % 2).cast("string"))
      val b = ord % 5
      val path = concat(lit("/"), realm, lit("/g/grp-"), g.cast("string"),
        when(b === 0, concat(lit("/meta/doc"), (ord % 10).cast("string")))
          .when(b === 1, concat(lit("/data/f"), (ord % 8).cast("string")))
          .when(b === 2, concat(lit("/meta/doc"), g.cast("string")))
          .when(b === 3, lit("/meta/doc7"))
          .otherwise(concat(lit("/data/sub/f"), (ord % 8).cast("string"))))
      val reqs = o.filter(ord % 211 === 3 && ord < 600000)
        .select(
          when(ord % 9 === 8, "anon")
            .otherwise(concat(lit("u"), (ord % 9).cast("string"))).as("caller"),
          realm.as("realm"),
          concat(lit("grp-"), g.cast("string")).as("group_id"),
          path.as("path"),
          when(ord % 3 === 0, "WRITE").otherwise("READ").as("required"))
        .distinct()
      val gk = s.range(0, 6).select(col("id").as("g"))
        .crossJoin(s.range(0, 6).select(col("id").as("k")))
      val realmOf = concat(lit("r"), (col("g") % 2).cast("string"))
      val scope = concat(lit("/"), realmOf, lit("/g/grp-"),
        col("g").cast("string"))
      val roles = gk.select(
        (col("g") * 10 + col("k")).as("role_id"),
        realmOf.as("realm"),
        concat(lit("grp-"), col("g").cast("string")).as("group_id"),
        when(col("k") === 0, concat(scope, lit("/meta/**")))
          .when(col("k") === 1, concat(scope, lit("/**")))
          .when(col("k") === 2,
            concat(scope, lit("/meta/doc"), col("g").cast("string")))
          .when(col("k") === 3, concat(scope, lit("/meta/doc7")))
          .when(col("k") === 4, concat(scope, lit("/data/*")))
          .otherwise(concat(scope, lit("/**"))).as("pattern"),
        when(col("k") === 2, "DENY")
          .when(col("k") === 1 || col("k") === 5, "WRITE")
          .otherwise("READ").as("permission"))
      val direct = gk.crossJoin(s.range(0, 8).select(col("id").as("j")))
        .filter((col("j") + col("g") + col("k") * 2) % 5 === 0)
        .select((col("g") * 10 + col("k")).as("role_id"),
          concat(lit("u"), col("j").cast("string")).as("user_id"))
      // k=4 always assigns everyone@r0: public for even groups (realm r0),
      // the foreign-everyone inert probe for odd ones (realm r1); k=5
      // assigns the home realm's everyone but says WRITE (inert)
      val assigns = direct
        .unionByName(s.range(0, 6).select((col("id") * 10 + 4).as("role_id"),
          lit("everyone@r0").as("user_id")))
        .unionByName(s.range(0, 6).select((col("id") * 10 + 5).as("role_id"),
          concat(lit("everyone@r"), (col("id") % 2).cast("string"))
            .as("user_id")))
      val restr = {
        import s.implicits._
        Seq(("u1", "/r0/g/*/meta/**", "READ"), ("u1", "/r1/**", "WRITE"),
          ("u2", "**", "WRITE"), ("u2", "/r0/g/grp-2/**", "DENY"),
          ("u3", "/r0/**", "READ")).toDF("caller", "pattern", "permission")
      }
      Authz.decide(reqs, roles, assigns, restr)
        .orderBy("caller", "realm", "group_id", "path", "required")
    },

    // Mirror-repair sweep, two phases: (a) everything due -> the 64-cap
    // binds, next_due suppressed; (b) a thin due prefix -> cap free,
    // next_due = min future due. Verdicts span delete, never-resurrect
    // (missing + Detached), bucket-not-found, access_denied, ensure-ok,
    // and backoff reschedules incl. the shift cap at attempts>=7
    "sm1_mirror_repair_sweep" -> { (s, d) =>
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val repairs = o.filter(col("o") % 7 < 3).select(
        lpad(col("o").cast("string"), 12, "0").as("rel_id"),
        when(col("o") % 2 === 0, "Delete").otherwise("Reconcile").as("intent"),
        (lit(1700000000000L) + (col("o") % 2000) * 100).as("due_at_ms"),
        (col("o") % 9).cast("long").as("attempts"))
      val rels = o.filter(col("o") % 13 =!= 0).select(
        lpad(col("o").cast("string"), 12, "0").as("rel_id"),
        when(col("o") % 11 === 0, "Detached").otherwise("Active").as("state"),
        concat(lit("bkt-"), (col("o") % 5).cast("string")).as("target_bucket"),
        concat(lit("u"), (col("o") % 4).cast("string")).as("created_by"))
      val buckets = ObjectTables.buckets(s, d).select(col("bucket"))
      val writable = s.range(0, 5).select(col("id").as("i"))
        .crossJoin(s.range(0, 4).select(col("id").as("j")))
        .filter((col("i") + col("j")) % 3 =!= 0)
        .select(concat(lit("u"), col("j").cast("string")).as("user_id"),
          concat(lit("bkt-"), col("i").cast("string")).as("bucket"))
      def phase(tag: String, now: Long) =
        MirrorRepair.sweep(repairs, rels, buckets, writable, now)
          .withColumn("phase", lit(tag))
      phase("a", 1700000000000L + 200000L)
        .unionByName(phase("b", 1700000000000L + 500L))
        .orderBy("phase", "rel_id")
    },

    // Intent-ledger fold: six-step staged-intent replays per relationship
    // pin delete-supersedes-reconcile, clear-by-expected-intent, and the
    // status-update resurrect guards
    "sm2_mirror_intent_ledger" -> { (s, d) =>
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val events = o.filter(col("o") % 3 === 0)
        .select(col("o"), explode(sequence(lit(0), lit(5))).as("seq"))
        .select(
          lpad(col("o").cast("string"), 12, "0").as("rel_id"),
          col("seq").cast("int").as("seq"),
          element_at(array(lit("stage_reconcile"), lit("stage_delete"),
            lit("status_update"), lit("clear_reconcile"),
            lit("clear_delete")), ((col("o") + col("seq")) % 5 + 1).cast("int"))
            .as("kind"),
          element_at(array(lit("Active"), lit("Detached"), lit("missing"),
            lit("Active")), (col("o") % 4 + 1).cast("int")).as("rel_state"))
      MirrorRepair.ledgerFold(events).orderBy("rel_id")
    },

    // CORS decision batch: preflight first-match ladder (origin wildcard
    // case-sensitive, headers case-insensitive, empty-allowed rejects any
    // requested header), actual-request origin+method match, no-config
    // buckets 403/pass-through. bkt-0 pins first-match order: rule 0 wins
    // GET-no-headers, rule 1 catches the content-type preflight rule 0
    // rejects
    "cors1_preflight_match" -> { (s, d) =>
      import s.implicits._
      val rules = Seq(
        ("bkt-0", 0, Seq("https://app.example.com"), Seq("GET", "HEAD"),
          Seq.empty[String], Seq("etag"), Option(300)),
        ("bkt-0", 1, Seq("https://*.example.com"), Seq("GET", "PUT"),
          Seq("content-type", "x-amz-*"), Seq.empty[String], Option(600)),
        ("bkt-1", 0, Seq("*"), Seq("GET"), Seq("*"),
          Seq("etag", "x-amz-request-id"), Option.empty[Int]),
        ("bkt-2", 0, Seq("https://app.example.com", "http://localhost:3000"),
          Seq("PUT", "POST", "DELETE"), Seq("authorization", "content-type"),
          Seq.empty[String], Option(3600)),
        ("bkt-2", 1, Seq("https://*.partner.io"), Seq("GET", "HEAD", "POST"),
          Seq("content-type"), Seq("etag"), Option(120)),
        ("bkt-3", 0, Seq("https://*"), Seq("GET"), Seq.empty[String],
          Seq.empty[String], Option.empty[Int]))
        .toDF("bucket", "rule_idx", "allowed_origins", "allowed_methods",
          "allowed_headers", "expose_headers", "max_age")
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val reqs = o.filter(col("o") % 97 === 1).select(
        col("o").as("req_id"),
        concat(lit("bkt-"), (col("o") % 5).cast("string")).as("bucket"),
        element_at(array(lit("https://app.example.com"),
          lit("https://sub.example.com"), lit("https://evil.com"),
          lit("http://localhost:3000"), lit("https://x.partner.io")),
          (col("o") % 11 % 5 + 1).cast("int")).as("origin"),
        element_at(array(lit("GET"), lit("PUT"), lit("POST"), lit("PATCH")),
          (col("o") % 4 + 1).cast("int")).as("method"),
        element_at(array(lit(null).cast("string"), lit(""),
          lit("Content-Type"), lit("Content-Type, X-Amz-Meta-Foo"),
          lit(" Authorization ,, content-type "), lit("X-Custom")),
          (col("o") % 13 % 6 + 1).cast("int")).as("headers_raw"),
        (col("o") % 2 === 0).as("preflight"))
      Cors.decide(reqs, rules).orderBy("req_id")
    },

    // Placement-holder resolution: s1 = replica-3 plain walk (loc-d's
    // only weighted member is a User node -> W_loc 0, location skipped);
    // s2 = replica-2 distinct-locations with filter(tier=ssd) +
    // multiply(region=x, 3000) affinity and pins/exclusions for every
    // o%3==0 subject (n03 pin leads, n09 excluded-beats-pinned)
    "pm1_placement_holders" -> { (s, d) =>
      import s.implicits._
      val nodes = Seq(
        ("n01", "Server", "loc-a", 100, false, false, "ssd", "x"),
        ("n02", "Server", "loc-a", 200, false, false, "hdd", "x"),
        ("n03", "Server", "loc-a", 100, false, false, "ssd", "y"),
        ("n04", "Server", "loc-b", 300, false, false, "ssd", "y"),
        ("n05", "Server", "loc-b", 100, true, false, "ssd", "x"),
        ("n06", "Management", "loc-b", 150, false, false, "hdd", "y"),
        ("n07", "Server", "loc-c", 100, false, true, "ssd", "x"),
        ("n08", "Server", "loc-c", 50, false, false, "hdd", "x"),
        ("n09", "Server", "loc-c", 200, false, false, "ssd", "y"),
        ("n10", "User", "loc-d", 900, false, false, "ssd", "x"),
        ("n11", "Server", "loc-d", 0, false, false, "ssd", "y"),
        ("n12", "Local", "loc-e", 100, false, false, "hdd", "x"))
        .toDF("node_id", "kind", "location", "weight", "full", "draining",
          "tier", "region")
        .select(col("node_id"), col("kind"), col("location"), col("weight"),
          col("full"), col("draining"),
          map(lit("tier"), col("tier"), lit("region"), col("region"))
            .as("labels"))
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 199 === 7)
      val subs = o.select(
        concat(lit("subj-"), col("o").cast("string")).as("subject"))
      val s1 = Placement.resolveHolders(subs, nodes,
        Placement.Strategy(Some(3), distinctLocations = false))
        .withColumn("scenario", lit("s1"))
      val ov = o.filter(col("o") % 3 === 0).select(
        concat(lit("subj-"), col("o").cast("string")).as("subject"),
        array(lit("n03"), lit("n09")).as("pinned"),
        array(lit("n09")).as("excluded"))
      val s2 = Placement.resolveHolders(subs, nodes,
        Placement.Strategy(Some(2), distinctLocations = true,
          affinity = Seq(("tier", "ssd", "filter", 0),
            ("region", "x", "multiply", 3000))), ov)
        .withColumn("scenario", lit("s2"))
      s1.unionByName(s2)
        .select(col("scenario"), col("subject"), col("rank"),
          col("node_id"), col("location"), col("via"))
        .orderBy("scenario", "subject", "rank")
    },

    // Job-queue drain batch: per-class budget walk over the due index
    // (claims, saturated skips, foreign/orphan drops, fresh-cancel
    // terminalization, the both-budgets-spent cut) + the expired-lease
    // sweep (requeue-with-backoff, attempt-cap terminalization,
    // reconcile routing, renewed-lease and claim-less skips, 128-row
    // page cap) with the due/lease-head trailer
    "jd1_job_drain" -> { (s, d) =>
      val now = 1700000000000L
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 3 === 1)
      val jid = lpad(col("o").cast("string"), 12, "0")
      val state = when(col("o") % 17 === 0, "Claimed")
        .when(col("o") % 17 === 1, "Running")
        .when(col("o") % 17 === 2, "Failed")
        .when(col("o") % 17 === 3, "Cancelled")
        .when(col("o") % 17 === 4, "Succeeded")
        .otherwise("Queued")
      val extCls = col("o") % 5 < 2
      val records = o.select(jid.as("job_id"), state.as("state"),
        when(col("o") % 23 === 0, "other").otherwise("self").as("owner"),
        when(extCls, "ExternalAttempt").otherwise("InProcess")
          .as("exec_class"),
        (col("o") % 19 === 0).as("cancel_requested"),
        (col("o") % 38 === 0).as("has_run"),
        when(extCls && col("o") % 7 === 0, "submitted")
          .as("attempt_intent"),
        (col("o") % 6).cast("long").as("attempts"),
        when(state.isin("Claimed", "Running"),
          when(col("o") % 4 < 3, lit(now) - 1000 - col("o") % 100)
            .otherwise(lit(now) + 50000L)).cast("long")
          .as("lease_expires_at_ms"),
        when(col("o") % 29 === 0, "TerminalCleanup").otherwise("Execution")
          .as("payload"))
      // orphan/claimless/renewed-stale index rows get timestamps EARLY in
      // the scan order (and bounded densities) so each verdict arm lands
      // inside the budget cut / 128-row page the reference actually scans
      val due = o.filter(col("o") % 8 === 5)
        .select(when(col("o") % 11 === 0, lit(now) + 100000L)
          .otherwise(lit(now) - 5000 + (col("o") % 100) * 10).cast("long")
          .as("due_ts"), jid.as("job_id"))
        .unionByName(o.filter(col("o") % 527 === 31)
          .select((lit(now) - 4990).cast("long").as("due_ts"),
            lpad((col("o") + 9000000).cast("string"), 12, "0")
              .as("job_id")))
      val leases = o.filter(col("o") % 17 <= 2 && col("o") % 4 < 3)
        .select((lit(now) - 1000 - col("o") % 100).cast("long")
          .as("lease_ts"), jid.as("job_id"))
        .unionByName(o.filter(col("o") % 176 === 3 && col("o") % 17 <= 1)
          .select((lit(now) - 1150).cast("long").as("lease_ts"),
            jid.as("job_id")))
        .unionByName(o.filter(col("o") % 510 === 22)
          .select((lit(now) - 1180).cast("long").as("lease_ts"),
            jid.as("job_id")))
        .unionByName(o.filter(col("o") % 701 === 3)
          .select((lit(now) - 1200).cast("long").as("lease_ts"),
            lpad((col("o") + 9500000).cast("string"), 12, "0")
              .as("job_id")))
      JobDrain.drain(due, leases, records, "self", ipBudget = 6,
        extBudget = 3, nowMs = now).orderBy("phase", "pos")
    },

    // Connector-input validation batch: 13 fault scenarios x 5 kinds
    // drive every arm of the first-fail ladder (blank name, unsupported
    // kind, empty/unknown keys, missing required, respelled endpoints
    // from the reference's own test table, unsafe bucket, bool parse,
    // skip-signature-vs-credentials, signed-S3-needs-static-keys) plus
    // the anonymous-S3 and secretless-Http positive paths
    "cv1_connector_validation" -> { (s, d) =>
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 89 === 2)
      val kindC = element_at(array(lit("Http"), lit("S3"), lit("Webdav"),
        lit("Ftp"), lit("ArunaNative")), (col("o") % 5 + 1).cast("int"))
      val f = col("o") % 13
      def kv(k: String, v: Column) = struct(lit(k).as("k"), v.as("v"))
      val respelled = element_at(array(lit("https://2852039166"),
        lit("https://0xa9fea9fe"), lit("https://169.254.169.254."),
        lit("https://127.1"), lit("https://0251.0376.0251.0376"),
        lit("https://S3.example.com")), (col("o") % 6 + 1).cast("int"))
      val endpointV = when(f === 6, respelled)
        .when(kindC === "S3", lit("https://s3.example.com"))
        .otherwise(concat(lit("https://files"), (col("o") % 7)
          .cast("string"), lit(".example.com")))
      val bucketV = when(f === 7,
        concat(lit("b@d"), (col("o") % 10).cast("string")))
        .otherwise(concat(lit("b"), (col("o") % 50).cast("string")))
      val pub0 = when(kindC === "S3", array(kv("bucket", bucketV),
        kv("endpoint", endpointV),
        kv("region", when(f === 4, lit("")).otherwise(lit("eu-central-1")))))
        .otherwise(array(kv("endpoint", endpointV),
          kv("root", when(f === 4, lit(" ")).otherwise(lit("/data")))))
      val pub1 = when(f === 3, filter(pub0, x => x.getField("k") =!=
        when(kindC === "S3", "bucket").otherwise("endpoint")))
        .otherwise(pub0)
      val pub2 = when(f === 1,
        concat(pub1, array(kv("zeta_extra", lit("x"))))).otherwise(pub1)
      val pub = when(f === 8 && kindC === "S3",
        concat(pub2, array(kv("skip_signature", lit("banana")))))
        .when((f === 9 || f === 11) && kindC === "S3",
          concat(pub2, array(kv("skip_signature", lit("true")))))
        .otherwise(pub2)
      val sec0 = when(kindC === "S3", array(
        kv("access_key_id", concat(lit("AK"), col("o").cast("string"))),
        kv("secret_access_key",
          when(f === 5, lit("")).otherwise(lit("SK")))))
        .when(kindC === "Ftp", array(kv("user", lit("u")),
          kv("password", lit("p"))))
        .when(kindC === "ArunaNative", array(kv("bearer_token", lit("t"))))
        .otherwise(array(kv("username", lit("u")),
          kv("password", when(f === 5, lit(" ")).otherwise(lit("p")))))
      val sec1 = when(f === 2,
        concat(sec0, array(kv("zzz_bad", lit("y"))))).otherwise(sec0)
      val sec = when(f === 10 || f === 11,
        filter(sec1, _ => lit(false))).otherwise(sec1)
      Connectors.validate(o.select(col("o").as("req_id"),
        when(f === 0, lit("  "))
          .otherwise(concat(lit("conn-"), col("o").cast("string")))
          .as("name"),
        kindC.as("kind"), pub.as("pub"), sec.as("sec")))
        .orderBy("req_id")
    },

    // Resource-event notification routing: member-added fans out to the
    // affected user plus group admins (minus affected/actor), self-adds
    // suppress the direct record, removals notify the affected user only,
    // node-onboarded reaches every realm admin
    "nr1_event_routing" -> { (s, d) =>
      val gu = s.range(0, 8).select(col("id").as("g"))
        .crossJoin(s.range(0, 10).select(col("id").as("u")))
      val groupRoles = gu.select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        when((col("g") + col("u")) % 4 === 0, "admin").otherwise("member")
          .as("role_name"),
        concat(lit("u"), col("u").cast("string")).as("user_id"))
      val realmRoles = s.range(0, 2).select(col("id").as("r"))
        .crossJoin(s.range(0, 10).select(col("id").as("u")))
        .select(concat(lit("r"), col("r").cast("string")).as("realm_id"),
          when(col("u") % 3 === 0, "realm_admin").otherwise("viewer")
            .as("role_name"),
          concat(lit("u"), col("u").cast("string")).as("user_id"))
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 67 === 5)
      val affected = concat(lit("u"), (col("o") % 9).cast("string"))
      val events = o.select(col("o").as("event_id"),
        element_at(array(lit("member_added"), lit("member_removed"),
          lit("node_onboarded")), (col("o") % 3 + 1).cast("int"))
          .as("kind"),
        concat(lit("g"), (col("o") % 8).cast("string")).as("group_id"),
        concat(lit("r"), (col("o") % 2).cast("string")).as("realm_id"),
        affected.as("affected_user"),
        when(col("o") % 13 === 0, affected)
          .otherwise(concat(lit("u"), ((col("o") % 9 + 3) % 9)
            .cast("string"))).as("actor_user_id"),
        (lit(1700000000000L) + col("o")).as("occurred_at_ms"))
      Notifications.routeResourceEvents(events, groupRoles, realmRoles)
        .orderBy("event_id", "notif_kind", "recipient")
    },

    // Hidden-blob sweep: upload liveness (claimed-by-active vs unclaimed
    // expiry), referenced-set union (artifacts of ANY job + checkpoint
    // refs of ACTIVE rocrate jobs + live upload keys), and the orphan
    // ladder (referenced / active-namespace / no-mtime / grace / deleted)
    "hb1_hidden_sweep" -> { (s, d) =>
      val now = 1700000000000L
      val old = now - 7200000L
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val o3 = o.filter(col("o") % 3 === 0)
      val jid = concat(lit("j"), col("o").cast("string"))
      val state = when(col("o") % 17 === 0, "Claimed")
        .when(col("o") % 17 === 1, "Running")
        .when(col("o") % 17 === 2, "Failed")
        .when(col("o") % 17 === 3, "Cancelled")
        .when(col("o") % 17 === 4, "Succeeded")
        .otherwise("Queued")
      val jobs = o3.select(jid.as("job_id"), state.as("state"),
        (col("o") % 4 === 0).as("is_rocrate"),
        when(col("o") % 9 === 0, concat(lit("ha-"), col("o").cast("string")))
          .as("artifact_key"))
      val ckRefs = o3.filter(col("o") % 12 === 0)
        .select(jid.as("job_id"),
          explode(array(lit("0"), lit("1"))).as("i"), col("o"))
        .select(col("job_id"),
          concat(lit("hc-"), col("o").cast("string"), lit("-"), col("i"))
            .as("hidden_key"))
      val o5 = o.filter(col("o") % 5 === 0)
      val uploads = o5.select(
        concat(lit("up-"), col("o").cast("string")).as("upload_id"),
        concat(lit("hu-"), col("o").cast("string")).as("hidden_key"),
        when(col("o") % 15 === 0, jid)
          .when(col("o") % 15 === 5,
            concat(lit("j"), (col("o") + 9000000).cast("string")))
          .as("claimed_by"),
        when(col("o") % 10 < 5, lit(now) + 60000L)
          .otherwise(lit(now) - 60000L).cast("long").as("expires_at_ms"))
      val hidden =
        o.filter(col("o") % 9 === 0).select(
          concat(lit("ha-"), col("o").cast("string")).as("hidden_key"),
          lit(null).cast("string").as("namespace_job_id"),
          lit(old).as("modified_at_ms"))
        .unionByName(o3.filter(col("o") % 12 === 0).select(
          concat(lit("hc-"), col("o").cast("string"), lit("-0"))
            .as("hidden_key"),
          jid.as("namespace_job_id"), lit(old).as("modified_at_ms")))
        .unionByName(o5.select(
          concat(lit("hu-"), col("o").cast("string")).as("hidden_key"),
          lit(null).cast("string").as("namespace_job_id"),
          lit(old).as("modified_at_ms")))
        .unionByName(o.filter(col("o") % 7 === 0).select(
          concat(lit("ho-"), col("o").cast("string")).as("hidden_key"),
          lit(null).cast("string").as("namespace_job_id"),
          when(col("o") % 21 === 0, lit(null).cast("long"))
            .when(col("o") % 14 === 0, lit(now) - 1000L)
            .otherwise(lit(old)).as("modified_at_ms")))
        // namespace-owned but unreferenced: the checkpoint is about to be
        // written — survives only while the owning rocrate job is active
        .unionByName(o3.filter(col("o") % 12 === 0).select(
          concat(lit("hn-"), col("o").cast("string")).as("hidden_key"),
          jid.as("namespace_job_id"), lit(old).as("modified_at_ms")))
      HiddenSweep.sweep(jobs, ckRefs, uploads, hidden, now)
        .orderBy("phase", "id", "verdict")
    },

    // Storage-routing resolution batch: the exact/longest-prefix/group-
    // default/operator-rule ladder with binding named backends (unknown /
    // full abort), group-backend registration + egress checks, reserved
    // classes that MISS for tenant rules but resolve for operator rules,
    // all-full class misses, and the node-default fallback
    "rt1_storage_routing" -> { (s, d) =>
      import s.implicits._
      val catalog = Seq(
        ("default", Option.empty[String], true, false),
        ("ssd-a", Some("hot"), true, false),
        ("ssd-b", Some("hot"), true, true),
        ("cold-1", Some("cold"), true, false),
        ("arch-1", Some("archive"), false, false),
        ("cap-1", Some("capped"), true, true))
        .toDF("name", "clazz", "allow_tenants", "full")
      val groupBackends = Seq(("grp-0", "gb-1"), ("grp-1", "gb-1"))
        .toDF("group_id", "backend_id")
      val bucketRules = Seq(
        ("bkt-0", 0, "data/a/x.bin", true, "node", "ssd-a"),
        ("bkt-0", 1, "data/a/", false, "class", "hot"),
        ("bkt-0", 2, "data/", false, "class", "archive"),
        ("bkt-0", 3, "", false, "node", "cold-1"),
        ("bkt-1", 0, "data/b/", false, "node", "missing-x"),
        ("bkt-1", 1, "", false, "group", "gb-1"),
        ("bkt-2", 0, "data/", false, "group", "gb-9"),
        ("bkt-2", 1, "data/c/", false, "node", "cap-1"),
        ("bkt-3", 0, "zz", true, "class", "capped"),
        ("bkt-3", 1, "data/", false, "class", "capped"))
        .toDF("bucket", "rule_idx", "key_prefix", "exact", "kind", "target")
      val groupDefaults = Seq(("grp-0", "class", "cold"),
        ("grp-1", "node", "ssd-a"))
        .toDF("group_id", "kind", "target")
      val nodeRules = Seq(
        (0, Some("grp-2"), Option.empty[String], Option.empty[String],
          "class", "hot"),
        (1, Option.empty[String], Some("bkt-4"), Some("ops/"),
          "class", "archive"),
        (2, Option.empty[String], Some("bkt-5"), Option.empty[String],
          "node", "cap-1"))
        .toDF("rule_idx", "group_id", "bucket", "key_prefix", "kind",
          "target")
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 71 === 3)
      val reqs = o.select(col("o").as("req_id"),
        concat(lit("grp-"), (col("o") % 4).cast("string")).as("group_id"),
        concat(lit("bkt-"), (col("o") % 6).cast("string")).as("bucket"),
        element_at(array(lit("data/a/x.bin"), lit("data/a/y"),
          lit("data/b/z"), lit("data/c/k"), lit("data/q"), lit("ops/r"),
          lit("zz")), (col("o") % 7 + 1).cast("int")).as("key"))
      Routing.resolve(reqs, bucketRules, groupDefaults, nodeRules,
        catalog, groupBackends, defaultName = "default")
        .orderBy("req_id")
    },

    // PutBucketRouting admission (bucket_routing.rs + validate_tenant_rules):
    // inputs-unavailable group, duplicate-(exact,prefix) second occurrence,
    // invalid class spellings (upper / space / empty-kind? no — 33-char),
    // operator-backend target, foreign group backend, missing bucket,
    // moved-owner mismatch, ok replaces (incl. the empty-vector clear)
    "rt2_routing_admission" -> { (s, d) =>
      val (reqs, rules, groupBackends, buckets, unavailable) =
        routingAdmissionFixture(s, d)
      Routing.admitTenantRules(reqs, rules, groupBackends, buckets,
        unavailable).orderBy("req_id")
    },

    // Admitted rules feed resolution (the PutBucketRouting -> routing-
    // snapshot chain): per bucket the highest admitted req_id's vector is
    // the store, and a probe write batch resolves through the rt1 ladder
    // against it (admission guarantees only group/class targets survive)
    "rt3_admitted_resolve" -> { (s, d) =>
      import s.implicits._
      val (reqs, rules, groupBackends, buckets, unavailable) =
        routingAdmissionFixture(s, d)
      val admitted = Routing.admitTenantRules(reqs, rules, groupBackends,
        buckets, unavailable)
      // barrier the admitted store (r14, guide §5 + §7.3 plan size): resolve
      // references its bucketRules twice (exact + prefix tiers), and without
      // the barrier each reference re-plans and re-executes the whole
      // admission chain (fixture scan → window → fold → winners join) —
      // ProfileGate showed the gate's wall is dozens of 1-task stages plus
      // driver planning over the duplicated subtree. The barrier caches the
      // config-sized store rows once and replaces the subtree with a leaf;
      // row set unchanged (it is the same relation, materialized).
      val (store, storeRdd) = graft.Caches.barrier(
        Routing.admittedBucketRules(admitted, rules))
      graft.Caches.track(storeRdd)
      val catalog = Seq(
        ("default", Option.empty[String], true, false),
        ("hot-1", Some("hot"), true, false),
        ("cold-1", Some("cold-2"), true, false),
        ("res-1", Some("deep"), false, false))
        .toDF("name", "clazz", "allow_tenants", "full")
      val groupDefaults = Seq(("grp-1", "class", "cold-2"),
        ("grp-2", "group", "gb-3")).toDF("group_id", "kind", "target")
      val nodeRules = Seq((0, Option.empty[String], Some("bkt-5"),
        Some("deep/"), "class", "deep"))
        .toDF("rule_idx", "group_id", "bucket", "key_prefix", "kind",
          "target")
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 53 === 7)
      val probes = o.select(col("o").as("req_id"),
        element_at(array(lit("grp-0"), lit("grp-1"), lit("grp-2"),
          lit("grp-4")), (col("o") % 4 + 1).cast("int")).as("group_id"),
        concat(lit("bkt-"), (col("o") % 6).cast("string")).as("bucket"),
        element_at(array(lit("a/x"), lit("b/y"), lit("deep/path/z"),
          lit("q"), lit("")), (col("o") % 5 + 1).cast("int")).as("key"))
      Routing.resolve(probes, store, groupDefaults, nodeRules, catalog,
        groupBackends, defaultName = "default").orderBy("req_id")
    },

    // EnsureRealmConfig overlay + handle-space guard arms (the round-11
    // model extensions): a FRESH document with reducer-materialized pools
    // does not seed (rs:212 overlay before rs:224's emptiness check) and
    // mints from the materialized pool — or errors coordinator_pool_missing
    // when the materialized pool belongs to someone else; a reused grant
    // whose start is the reserved handle or past the 20-bit space aborts
    // invalid_band_start (rs:266-267 PlacementHandle::new)
    "erc2_overlay_band_guard" -> { (s, d) =>
      import s.implicits._
      val scs = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 151).cast("long").as("sc_id"))
        .distinct()
      val sc = col("sc_id")
      val reqs = scs.select(sc, lit("A").as("actor"), lit("T").as("target"),
        lit("storage").as("kind"), lit(true).as("create_if_missing"),
        lit(false).as("reject_kind_mismatch"),
        (sc % 5 =!= 0).as("doc_exists"), lit(false).as("reducer_exists"),
        lit(false).as("target_mismatch"), lit(true).as("has_strategy"))
      val pools = scs.filter(sc % 5 =!= 0)
        .select(sc, lit("pA").as("pool_id"),
          lit(null).cast("string").as("parent"), lit("A").as("issuer"),
          lit("A").as("owner"), lit(3L).as("start"), lit(6147L).as("end"))
      val grants = scs.filter(sc % 7 === 1)
        .select(sc, lit("g1").as("range_id"), lit("T").as("owner"),
          lit(2051L).as("start"), lit(3075L).as("end"))
        .union(scs.filter(sc % 11 === 2).select(sc, lit("gbad"), lit("T"),
          lit(1048576L), lit(1049600L))) // starts past the 20-bit space
        .union(scs.filter(sc % 13 === 3).select(sc, lit("gz"), lit("T"),
          lit(0L), lit(1024L))) // starts at the reserved handle
      val matPools = scs.filter(sc % 3 === 0)
        .select(sc, lit("pM").as("pool_id"),
          lit(null).cast("string").as("parent"),
          when(sc % 2 === 0, "A").otherwise("B").as("issuer"),
          when(sc % 2 === 0, "A").otherwise("B").as("owner"),
          lit(8195L).as("start"), lit(10243L).as("end"))
      val noNodes = Seq.empty[(Long, String, String)]
        .toDF("sc_id", "node_id", "kind")
      val noHandles = Seq.empty[(Long, Long)].toDF("sc_id", "handle")
      val noIds = Seq.empty[(Long, String)].toDF("sc_id", "node_id")
      val noRanges = Seq.empty[(Long, String)].toDF("sc_id", "range_id")
      EnsureRealmConfig.decide(reqs, noNodes, pools, grants, noHandles,
        noNodes, noIds, noRanges, matPools = Some(matPools))
        .orderBy("sc_id")
    },

    // PutGroupRouting admission (group_routing.rs:186-300 + the loader's
    // owned-set construction :105-125): inputs-unavailable group, operator
    // target, foreign / disabled / dangling-index group backends, invalid
    // class spellings, the valid clear (no target), ok stores the default
    "pg1_group_routing_admission" -> { (s, d) =>
      val (reqs, backendIndex, unavailable) = groupRoutingFixture(s, d)
      Routing.admitGroupDefault(reqs, backendIndex, unavailable)
        .orderBy("req_id")
    },

    // GetGroupRouting point read over the admitted store
    // (group_routing.rs:302-407): per group the last ok write stands —
    // including the clear, which keeps a record with NO default — and an
    // absent record (never-written or all-writes-rejected groups) reads
    // as "no default", not an error
    "pg2_group_routing_read" -> { (s, d) =>
      val (reqs, backendIndex, unavailable) = groupRoutingFixture(s, d)
      val store = Routing.groupRoutingStore(
        Routing.admitGroupDefault(reqs, backendIndex, unavailable))
      val probes = graft.Tables.orders(s, d)
        .select(concat(lit("grp-"),
          (col("o_orderkey") % 8).cast("string")).as("group_id"))
        .distinct()
      Routing.getGroupRouting(probes, store).orderBy("group_id")
    },

    // Admitted group defaults feed resolution (the PutGroupRouting ->
    // routing-snapshot chain, closing rt1's groupDefaults input the way
    // rt3 closed bucketRules): tier-2 candidates come from the admitted
    // store's non-cleared defaults; a tenant-reserved class default
    // (archive) MISSES and falls through to operator rules / the node
    // default
    "pg3_group_default_resolve" -> { (s, d) =>
      import s.implicits._
      val (reqs, backendIndex, unavailable) = groupRoutingFixture(s, d)
      val store = Routing.groupRoutingStore(
        Routing.admitGroupDefault(reqs, backendIndex, unavailable))
      val groupDefaults = store.filter(col("kind").isNotNull)
        .select(col("group_id"), col("kind"), col("target"))
      val catalog = Seq(
        ("default", Option.empty[String], true, false),
        ("hot-1", Some("hot"), true, false),
        ("cold-1", Some("cold-2"), true, false),
        ("arch-1", Some("archive"), false, false))
        .toDF("name", "clazz", "allow_tenants", "full")
      val bucketRules = Seq
        .empty[(String, Int, String, Boolean, String, String)]
        .toDF("bucket", "rule_idx", "key_prefix", "exact", "kind", "target")
      val nodeRules = Seq((0, Option.empty[String], Option.empty[String],
        Some("ops/"), "class", "archive"))
        .toDF("rule_idx", "group_id", "bucket", "key_prefix", "kind",
          "target")
      val groupBackends = Seq(("grp-0", "gb-1"), ("grp-1", "gb-1"),
        ("grp-2", "gb-2"), ("grp-4", "gb-1"), ("grp-4", "gb-2"))
        .toDF("group_id", "backend_id")
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
        .filter(col("o") % 43 === 2)
      val probes = o.select(col("o").as("req_id"),
        concat(lit("grp-"), (col("o") % 6).cast("string")).as("group_id"),
        concat(lit("bkt-"), (col("o") % 2).cast("string")).as("bucket"),
        element_at(array(lit("a/x"), lit("ops/r"), lit("q")),
          (col("o") % 3 + 1).cast("int")).as("key"))
      Routing.resolve(probes, bucketRules, groupDefaults, nodeRules,
        catalog, groupBackends, defaultName = "default").orderBy("req_id")
    },

    // Shard-manifest verification verdicts (shard/mod.rs digest fold +
    // verify.rs ladder): already-verified marker short-circuit, sole-holder
    // genesis gate, first-reachable-co-holder pick in rank order, BLAKE3
    // order-independent entry digest + topic digest convergence, the
    // local-genesis guard on the convergence arm
    "sv1_shard_verify" -> { (s, d) =>
      val (holders, entries, topics, markers, reachable) =
        shardVerifyFixture(s, d)
      ShardVerify.verify(holders, entries, topics, markers, reachable)
        .orderBy("strategy_id", "shard", "node_id")
    },

    // Handle-range directory fold (handle_allocation.rs:22-58): same-id
    // divergence + pairwise-overlap fail-closed conflicts, granted_to
    // positions for the survivors
    "hd1_handle_directory" -> { (s, d) =>
      HandleRanges.directory(handleRangesFixture(s, d))
        .orderBy("sc_id", "range_id", "owner", "start", "end")
    },

    // free_band_in (handle_allocation.rs:87-107): lowest free 1024-band in
    // SPAN ORDER (the upper span is listed first, pinning the iteration
    // semantic), conflicted grants occupying conservatively
    "hd2_free_band" -> { (s, d) =>
      import s.implicits._
      val ranges = handleRangesFixture(s, d)
      val scs = ranges.select("sc_id").distinct()
      // one high band listed first, one low band second: pins span-order
      // iteration, and both-occupied scenarios pin the fully-consumed arm
      val spans = scs.select(col("sc_id"), lit(0L).as("span_idx"),
          lit(11267L).as("span_start"), lit(12291L).as("span_end"))
        .union(scs.select(col("sc_id"), lit(1L), lit(2051L), lit(3075L)))
      HandleRanges.freeBand(ranges, spans).orderBy("sc_id")
    },

    // allocation-cursor draw sequence (handle_allocation.rs:127-151): every
    // handle of each non-conflicted grant except the reserved first, in
    // (start, range_id) order
    "hd3_cursor_draws" -> { (s, d) =>
      HandleRanges.draws(handleDrawsFixture(s, d))
        .orderBy("sc_id", "owner", "seq")
    },

    // EnsureRealmConfig decision ladder (ensure_realm_config.rs:155-409):
    // error arms in reference order, node/range noop detection, grant
    // reuse vs lowest-free-band minting, append-once JobControl binding,
    // seed pool, management transfer slice — composed over the pool
    // lineage (bp*), handle directory (hd*), and slice (hp1) primitives
    "erc1_ensure_realm_config" -> { (s, d) =>
      val Seq(reqs, nodes, pools, grants, bindings, matNodes,
        nodeConflicts, matRanges) = ensureRealmFixture(s, d)
      EnsureRealmConfig.decide(reqs, nodes, pools, grants, bindings,
        matNodes, nodeConflicts, matRanges).orderBy("sc_id")
    },

    // Band-pool lineage validity (placement.rs:289-331): well-formedness,
    // self-issued roots, occurrence-duplicate ids, forged issuers, orphan
    // parents, cycles, span escapes — per-scenario document fold
    "bp1_pool_validity" -> { (s, d) =>
      BandPools.validity(bandPoolsFixture(s, d))
        .orderBy("sc_id", "pool_id")
    },

    // coordinator_spans (placement.rs:350-397): per-band lineage-dominance
    // owner resolution with incomparable coverage failing closed (sibling
    // overlaps, rival roots), merged into per-owner grantable spans
    "bp2_coordinator_spans" -> { (s, d) =>
      BandPools.coordinatorSpans(bandPoolsFixture(s, d))
        .orderBy("sc_id", "owner", "span_start")
    },

    // admit_band_pool (placement.rs:420-446): accept / reject /
    // missing-parent admission of replicated pools against the local store
    "bp3_pool_admission" -> { (s, d) =>
      val pools = bandPoolsFixture(s, d)
      BandPools.admitPools(pools, bandPoolProbes(
        pools.select("sc_id").distinct()))
        .orderBy("sc_id", "inc_idx")
    },

    // Onboarding-secret claim verdicts: reserve vs consume ladders over
    // the lifecycle store (steal-expired-reservation, mid-handshake
    // expiry escape, idempotent re-consume, wrong-hash/expired/foreign
    // claims)
    "ob1_onboarding_claims" -> { (s, d) =>
      val now = 1700000000000L
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val o3 = o.filter(col("o") % 3 === 2)
      val eid = lpad(col("o").cast("string"), 12, "0")
      val store = o3.select(eid.as("enrollment_id"),
        concat(lit("h"), (col("o") % 1000).cast("string"))
          .as("secret_hash"),
        when(col("o") % 5 === 0, lit(now) - 10000L)
          .otherwise(lit(now) + 600000L).cast("long").as("expires_at"),
        element_at(array(lit("Available"), lit("Reserved"),
          lit("Finalizing"), lit("Consumed")),
          (col("o") % 4 + 1).cast("int")).as("state"),
        when(col("o") % 4 =!= 0,
          concat(lit("n"), (col("o") % 3).cast("string")))
          .as("state_node"),
        when(col("o") % 4 === 1,
          when(col("o") % 7 < 4, lit(now) + 30000L)
            .otherwise(lit(now) - 30000L)).cast("long")
          .as("state_expires_at"))
      val reqs = o3.select(col("o").as("req_id"),
        when(col("o") % 23 === 0,
          lpad((col("o") + 9000000).cast("string"), 12, "0"))
          .otherwise(eid).as("enrollment_id"),
        when(col("o") % 2 === 0, "reserve").otherwise("consume").as("op"),
        concat(lit("n"), (col("o") % 11 % 3).cast("string")).as("node_id"),
        when(col("o") % 17 === 0, lit("bad"))
          .otherwise(concat(lit("h"), (col("o") % 1000).cast("string")))
          .as("secret_hash"))
      Onboarding.decide(reqs, store, nowMs = now,
        reservationExpiresAt = now + 120000L).orderBy("req_id")
    },

    // HeadObject resolution batch: versioned reads (hit / twisted-ulid
    // miss / delete-marker), unversioned head walks (marker-hidden keys,
    // missing keys), multipart part_count on resolved versions
    "cat15_head_object" -> { (s, d) =>
      val versions = versionsStoreCached(s, d)
      val summaries = versions.filter(col("version_ord") % 7 === 0)
        .select(col("version_ulid"),
          (col("size") / 8192 + 1).cast("int").as("part_count"))
      // one pass over the persisted store for all four request families
      // (r14, guide §2.4 — same device and equality argument as goa1:
      // disjoint family prefixes, v-branch rows unique per store key, the
      // global dropDuplicates ≡ the per-branch h distincts)
      val ord = col("version_ord")
      def rq(req: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
          vid: org.apache.spark.sql.Column) =
        struct(req.as("req_id"), col("bucket").as("bucket"), key.as("key"),
          vid.as("version_id"))
      val reqs = versions.select(explode(array(
          when(ord % 57 === 0, rq(
            concat(lit("v0:"), col("bucket"), lit("/"), col("key"), lit("@"),
              col("version_ulid")),
            col("key"), col("version_ulid"))),
          when(ord % 59 === 0, rq(
            concat(lit("v1:"), col("bucket"), lit("/"), col("key"), lit("@"),
              col("version_ulid")),
            col("key"),
            lpad((ord - ord % 10 + 9).cast("string"), 12, "0"))),
          when(ord % 51 === 0, rq(
            concat(lit("h0:"), col("bucket"), lit("/"), col("key")),
            col("key"), lit(null).cast("string"))),
          when(ord % 101 === 0, rq(
            concat(lit("h1:"), col("bucket"), lit("/"), col("key")),
            concat(col("key"), lit(".nope")),
            lit(null).cast("string"))))).as("r"))
        .filter(col("r").isNotNull)
        .select(col("r.req_id").as("req_id"), col("r.bucket").as("bucket"),
          col("r.key").as("key"), col("r.version_id").as("version_id"))
        .dropDuplicates()
      ObjectOps.headObjects(versions, reqs, summaries).orderBy("req_id")
    },

    // Fully-paged ListObjectVersions (list_object_versions.rs): four
    // sections — (a) delimiter grouping with the shared max_keys budget
    // truncating ON a common prefix (null version marker), (b) resume past
    // that whole group via the delimiter-suffixed key marker, (c) the plain
    // version walk with delete markers, marker-latest heads, Reference
    // cached-metadata rows and the missing-location Materialized skip,
    // truncating mid-key, (d) (key_marker, version_id_marker) tuple resume
    // emitting only the marker key's older versions
    "cat16_list_versions_paged" -> { (s, d) =>
      val vv = ObjectTables.versionsStore(s, d) // persist measured WORSE here: pushed-filter scans beat the full decode (r13 A/B)
      val loc = ObjectTables.blobs(s, d).filter(!col("staging") && !col("partial"))
      def sect(tag: String, df: org.apache.spark.sql.DataFrame) =
        df.withColumn("sect", lit(tag))
      sect("a", Listing.listObjectVersionsPaged(vv, loc, "bkt-1", "data/R/",
          delimiter = Some("/"), maxKeys = 25))
        .unionByName(sect("b", Listing.listObjectVersionsPaged(vv, loc,
          "bkt-1", "data/R/", delimiter = Some("/"),
          keyMarker = Some("data/R/f30/"), maxKeys = 25)))
        .unionByName(sect("c", Listing.listObjectVersionsPaged(vv, loc,
          "bkt-1", "data/R/f13/", maxKeys = 40)))
        .unionByName(sect("d", Listing.listObjectVersionsPaged(vv, loc,
          "bkt-1", "data/R/f13/", keyMarker = Some("data/R/f13/o184.bin"),
          versionIdMarker = Some("000000046845"), maxKeys = 12)))
        .orderBy(col("sect"), col("name"),
          coalesce(col("version_ulid"), lit("")))
    },

    // Batch user resolution (resolve_users.rs): duplicate request ids
    // collapse, unknown ids and foreign-realm users drop silently, and only
    // the safe-attribute allowlist is projected — the stored email column
    // must never appear in resolve output
    "ru1_resolve_users" -> { (s, d) =>
      val reqs = graft.Tables.orders(s, d).filter(col("o_orderkey") % 13 === 0)
        .select(when(col("o_orderkey") % 11 === 0,
          lpad((col("o_custkey") + 9000000).cast("string"), 12, "0"))
          .otherwise(lpad(col("o_custkey").cast("string"), 12, "0"))
          .as("user_id"))
      Directory.resolveUsers(Directory.users(s, d), reqs, "realm-0")
        .orderBy("user_id")
    },

    // User-attribute validation ladder (user_update_validation.rs): per-user
    // first-failing-key verdict over planted charset / length / control-char
    // / count-cap violations
    "uv1_attr_validation" -> { (s, d) =>
      Directory.validateAttrs(Directory.attrs(s, d)).orderBy("user_id")
    },

    // Paged realm-scoped user listing (list_users.rs): limit+1 probe
    // deciding is_truncated, cursor = last user id, strictly-after resume,
    // and the limit clamp to >= 1
    "lu1_list_users" -> { (s, d) =>
      val u = Directory.users(s, d)
      Directory.listUsers(u, "realm-1", 15).withColumn("sect", lit("a"))
        .unionByName(Directory.listUsers(u, "realm-1", 15,
          startAfter = Some("000000000100")).withColumn("sect", lit("b")))
        .unionByName(Directory.listUsers(u, "realm-1", 0)
          .withColumn("sect", lit("c")))
        .orderBy("sect", "user_id")
    },

    // Offset-paged group listing (list_groups.rs): scan limit =
    // offset+limit, skip/take in group-id order, limit-0 empty page,
    // beyond-end empty page
    "lg1_list_groups" -> { (s, d) =>
      val g = Directory.groups(s, d)
      Directory.listGroups(g, 12, 0).withColumn("sect", lit("a"))
        .unionByName(Directory.listGroups(g, 15, 20).withColumn("sect", lit("b")))
        .unionByName(Directory.listGroups(g, 10, 1000000)
          .withColumn("sect", lit("c")))
        .unionByName(Directory.listGroups(g, 0, 5).withColumn("sect", lit("d")))
        .orderBy("sect", "group_id")
    },

    // Metadata-document listing (list_metadata_documents.rs): the group's
    // registry rows anti-joined against DELETED lifecycle records — live
    // Created lifecycle rows must not suppress anything
    "lm1_list_documents" -> { (s, d) =>
      Directory.listDocuments(graft.sparql.RdfTables.registry(s, d),
        Directory.lifecycle(s, d), "grp-7")
        .orderBy("document_id")
    },

    // GetObjectAttributes batch (get_object_attributes.rs): headObjects'
    // resolution ladder, then Materialized-missing-location => FAILED (not
    // the listing's skip), Reference cached metadata, checksum_type from the
    // multipart summary (FullObject default), include_parts part fold
    "goa1_object_attributes" -> { (s, d) =>
      val vv = versionsStoreCached(s, d)
      val loc = ObjectTables.blobs(s, d).filter(!col("staging") && !col("partial"))
      val mp = vv.filter(col("version_ord") % 7 === 0)
      val summaries = mp.select(col("version_ulid"),
        when(col("version_ord") % 14 === 0, "Composite")
          .otherwise("FullObject").as("checksum_type"))
      val pc = (col("size") / 8192 + 1).cast("int")
      val parts = mp
        .select(col("version_ulid"), col("size"), pc.as("pc"),
          explode(sequence(lit(1), pc)).as("part_number"))
        .select(col("version_ulid"), col("part_number"),
          when(col("part_number") < col("pc"), 8192L)
            .otherwise(col("size") - lit(8192L) * (col("pc") - 1))
            .as("part_size"))
      val nullV = lit(null).cast("string")
      // the four request families (e0/e1/h0/h1) derive from ONE pass over
      // the persisted store (r14, guide §2.4): each row conditionally emits
      // its family structs through a single explode instead of four
      // concurrent store scans (ProfileGate: run >> cpu task-slot
      // contention across the branch scans). Row set is unchanged — the
      // family prefixes keep branches disjoint, e0/e1 rows are unique per
      // (bucket, key, version_ord) by the store's key, and the one global
      // dropDuplicates reproduces exactly the h0/h1 per-branch distincts.
      val ord = col("version_ord")
      def rq(req: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
          vid: org.apache.spark.sql.Column, ip: org.apache.spark.sql.Column) =
        struct(req.as("req_id"), col("bucket").as("bucket"), key.as("key"),
          vid.as("version_id"), ip.as("include_parts"))
      val reqs = vv.select(explode(array(
          when(ord % 57 === 0, rq(
            concat(lit("e0:"), col("bucket"), lit("/"), col("key"), lit("@"),
              col("version_ulid")),
            col("key"), col("version_ulid"), ord % 2 === 0)),
          when(ord % 59 === 0, rq(
            concat(lit("e1:"), col("bucket"), lit("/"), col("key"), lit("@"),
              col("version_ulid")),
            col("key"),
            lpad((ord - ord % 10 + 9).cast("string"), 12, "0"), lit(true))),
          when(ord % 51 === 0, rq(
            concat(lit("h0:"), col("bucket"), lit("/"), col("key")),
            col("key"), nullV, lit(true))),
          when(ord % 101 === 0, rq(
            concat(lit("h1:"), col("bucket"), lit("/"), col("key")),
            concat(col("key"), lit(".nope")), nullV, lit(false))))).as("r"))
        .filter(col("r").isNotNull)
        .select(col("r.req_id").as("req_id"), col("r.bucket").as("bucket"),
          col("r.key").as("key"), col("r.version_id").as("version_id"),
          col("r.include_parts").as("include_parts"))
        .dropDuplicates()
      ObjectOps.getObjectAttributes(vv, loc, summaries, parts, reqs)
        .orderBy("req_id")
    },

    // Blob-holder resolution (blob_holders.rs): one publish per distinct
    // hash over the locations keyspace (backend copies dedup), holder lists
    // realm-filtered, self-excluded, TTL-expired-invisible, byte-sorted
    "bh1_blob_holders" -> { (s, d) =>
      val blobs = ObjectTables.blobs(s, d)
      val locations = blobs.select(col("blake3"))
        .unionByName(blobs.filter(
          substring(col("blake3"), 1, 1).isin("0", "1", "2", "3"))
          .select(col("blake3")))
      val dht = graft.Tables.orders(s, d).select(
        ObjectTables.md5Mod100(col("o_custkey") % 100).as("blake3"),
        concat(lit("n"), lpad((col("o_orderkey") % 17).cast("string"), 2, "0"))
          .as("node_id"),
        concat(lit("realm-"), (col("o_orderkey") % 2).cast("string")).as("realm"),
        (lit(1700000000000L) +
          when(col("o_orderkey") % 5 === 0, -1000L).otherwise(90000L))
          .as("expires_at_ms"))
      Holders.blobHolders(locations, dht, "realm-0", "n05",
        nowMs = 1700000000000L).orderBy("blake3")
    },

    // Document-sync outbox drain plan (document_sync_outbox.rs +
    // task_incoming.rs:577-860): FIFO key order with the admin
    // origin-sequence arm, per-topic held/exists verdict ladder
    // (undeliverable / deferred incl. unknown-config topic / publish),
    // 300s stuck telemetry, live-holder peer re-resolution and sorted-peer
    // publish groups with 512-record FIFO sub-batches
    "dso1_outbox_drain" -> { (s, d) =>
      val o = graft.Tables.orders(s, d)
      val t = col("o_custkey") % 23
      val ob = o.select(
        lpad(col("o_orderkey").cast("string"), 12, "0").as("outbox_id"),
        element_at(array(lit("admin"), lit("delete"), lit("upsert")),
          (col("o_orderkey") % 3 + 1).cast("int")).as("kind"),
        when(col("o_orderkey") % 3 === 0,
          concat(lit("node-"), (col("o_custkey") % 5).cast("string")))
          .as("origin_node"),
        when(col("o_orderkey") % 3 === 0, (col("o_orderkey") % 100))
          .cast("long").as("origin_seq"),
        concat(lit("doc:"), (col("o_custkey") % 200).cast("string")).as("target"),
        concat(lit("topic-"), lpad(t.cast("string"), 2, "0")).as("topic"),
        (col("o_orderkey") % 5 =!= 4).as("uses_shard"),
        when(col("o_orderkey") % 13 === 0, "")
          .otherwise(concat_ws(",", sort_array(array_distinct(array(
            concat(lit("p"), (col("o_custkey") % 7).cast("string")),
            concat(lit("p"), (col("o_custkey") % 3).cast("string")))))))
          .as("peers"),
        when(t % 4 === 0,
          concat(lit("h"), (t % 5).cast("string"), lit(",h9")))
          .otherwise(lit("")).as("live_holders"),
        (lit(1700000000000L) + (col("o_orderkey") % 7) * 60000).as("enq_ms"))
      // topic 22 deliberately ABSENT: unknown config row defers, never
      // declares undeliverable
      val ts = s.range(0, 22).select(
        concat(lit("topic-"), lpad(col("id").cast("string"), 2, "0")).as("topic"),
        (col("id") % 5 =!= 0).as("held"),
        (col("id") % 5 > 1).as("exists"))
      SyncOutbox.drainPlan(ob, ts, nowMs = 1700000400000L)
        .orderBy("outbox_id", "target")
    },

    // Blob-replication queue fold (queue.rs:374-406): identity-keyed
    // re-enqueues collapse to the preferred record — max (attempts, due),
    // earliest write on a full tie
    "rq1_replication_queue_fold" -> { (s, d) =>
      ReplQueue.storeFold(replInserts(s, d)).orderBy("ident")
    },

    // Due-drain page over the folded queue (queue.rs:1916-2010): key-order
    // walk, 64-job cap with has_more_due, and the min-future-due wake-up
    // hint bounded by the page cutoff
    "rq2_replication_due_scan" -> { (s, d) =>
      ReplQueue.dueScan(ReplQueue.storeFold(replInserts(s, d)),
        nowMs = 1700000240000L).orderBy("ident")
    },

    // UploadPartCopy verdicts (upload_part_copy.rs): destination-first
    // check order (NoSuchUpload, bucket/key mismatch BEFORE status,
    // UploadNotOpen), then the source resolution ladder, pre-parsed range
    // satisfiability, plain if-match, and the range/blob content_length
    "upc1_upload_part_copy" -> { (s, d) =>
      val vv = ObjectTables.versionsStore(s, d) // persist measured WORSE here: pushed-filter scans beat the full decode (r13 A/B)
      val up = ObjectTables.uploads(s, d)
      val sample = vv.filter(col("version_ord") % 61 === 0)
        .withColumn("uid",
          lpad(((col("version_ord") - col("version_ord") % 10) / 10)
            .cast("long").cast("string"), 12, "0"))
        .withColumn("cls", (col("version_ord") / 61).cast("long") % 9)
      val wu = sample.join(
        up.select(col("upload_id").as("uid"), col("bucket").as("u_bucket"),
          col("key").as("u_key")), Seq("uid"))
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("long")
      val reqs = wu.select(
        concat(lit("c"), col("cls"), lit(":"), col("uid"), lit("@"),
          col("version_ulid")).as("req_id"),
        when(col("cls") === 0,
          lpad((col("version_ord") + 900000000L).cast("string"), 12, "0"))
          .otherwise(col("uid")).as("upload_id"),
        col("u_bucket").as("dest_bucket"),
        when(col("cls") === 1, concat(col("u_key"), lit(".x")))
          .otherwise(col("u_key")).as("dest_key"),
        col("bucket").as("src_bucket"),
        when(col("cls") === 6, concat(col("key"), lit(".gone")))
          .otherwise(col("key")).as("src_key"),
        when(col("cls").isin(3, 4, 5),
          col("version_ulid"))
          .when(col("cls") === 7,
            lpad((col("version_ord") - col("version_ord") % 10 + 9)
              .cast("string"), 12, "0"))
          .otherwise(nullS).as("src_version"),
        when(col("cls") === 3, 2L).when(col("cls") === 4, 200000L)
          .when(col("cls") === 5, 50L).otherwise(nullL).as("r_start"),
        when(col("cls") === 3, 5L).when(col("cls") === 5, 10L)
          .otherwise(nullL).as("r_end"),
        when(col("cls") === 2, col("hash"))
          .when(col("cls") === 8, lit("deadbeef")).otherwise(nullS)
          .as("if_match"))
      ObjectOps.uploadPartCopyVerdicts(up, vv, reqs).orderBy("req_id")
    },

    // Realm-placement mutation validation (mutate_realm_placement.rs):
    // draining freezes node attributes (vs current entry or the
    // default/100/not-full/no-labels defaults for new nodes), zero
    // replica_count rejection, default-strategy and binding ladders with
    // the group->realm metadata-binding fallback and the blob-class skip,
    // referenced-strategy removal block, named-override strategy check
    "mp1_placement_mutations" -> { (s, d) =>
      val nodes = s.range(0, 10).select(
        concat(lit("nd"), col("id").cast("string")).as("node_id"),
        when(col("id") % 4 === 0, "default")
          .otherwise(concat(lit("loc-"), (col("id") % 3).cast("string")))
          .as("location"),
        when(col("id") % 5 === 0, 100L).otherwise(col("id") + 100)
          .as("weight"),
        (col("id") % 7 === 0).as("full"),
        when(col("id") % 3 === 0, "")
          .otherwise(concat(lit("L"), (col("id") % 3).cast("string")))
          .as("labels_sig"))
      val strategies = s.range(1, 9).select(
        concat(lit("s0"), col("id").cast("string")).as("strategy_id"),
        (col("id") % 4).as("replica_count"))
      val mb = Seq(("realm", "s01"), ("realm", "s03"), ("group:2", "s02"))
      val metaBindings = s.createDataFrame(mb).toDF("scope", "strategy_id")
      val referenced = s.createDataFrame(
        Seq(Tuple1("s01"), Tuple1("s02"), Tuple1("s03"), Tuple1("s04")))
        .toDF("strategy_id")
      val o = graft.Tables.orders(s, d)
      val c = col("o_custkey")
      val cls = col("o_orderkey") % 12
      val i = c % 10
      val curLoc = when(i % 4 === 0, "default")
        .otherwise(concat(lit("loc-"), (i % 3).cast("string")))
      val curW = when(i % 5 === 0, 100L).otherwise(i + 100)
      val curFull = i % 7 === 0
      val curLabels = when(i % 3 === 0, "")
        .otherwise(concat(lit("L"), (i % 3).cast("string")))
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("long")
      val muts = o.select(
        concat(lit("m"), col("o_orderkey").cast("string")).as("mut_id"),
        when(cls <= 4, "upsert_node")
          .when(cls === 5, "upsert_strategy")
          .when(cls.isin(6, 7), "set_default_strategy")
          .when(cls.isin(8, 9), "set_binding")
          .when(cls === 10, "remove_strategy")
          .otherwise("set_override").as("kind"),
        when(cls.isin(0, 1, 4), concat(lit("nd"), i.cast("string")))
          .when(cls.isin(2, 3), concat(lit("new"), (c % 20).cast("string")))
          .otherwise(nullS).as("node_id"),
        when(cls.isin(0, 1, 4), curLoc)
          .when(cls.isin(2, 3), lit("default")).otherwise(nullS)
          .as("n_location"),
        when(cls === 0, curW).when(cls === 1, curW + 1)
          .when(cls === 2, 100L).when(cls === 3, 150L)
          .when(cls === 4, curW + 5).otherwise(nullL).as("n_weight"),
        when(cls.isin(0, 1, 4), curFull)
          .when(cls.isin(2, 3), lit(false)).otherwise(lit(null))
          .cast("boolean").as("n_full"),
        when(cls.isin(0, 1, 4), curLabels)
          .when(cls.isin(2, 3), lit("")).otherwise(nullS).as("n_labels"),
        when(cls <= 3, true).when(cls === 4, false).otherwise(lit(null))
          .cast("boolean").as("n_draining"),
        when(cls === 5,
          concat(lit("s0"), (c % 8 + 1).cast("string")))
          .when(cls === 6, "s99")
          .when(cls === 7, when(c % 2 === 0, "s01").otherwise("s02"))
          .when(cls === 8,
            when(c % 3 === 0, "s02").when(c % 3 === 1, "s03")
              .otherwise("s02"))
          .when(cls === 9, when(c % 2 === 0, "s05").otherwise("s99"))
          .when(cls === 10,
            element_at(array(lit("s01"), lit("s02"), lit("s04"), lit("s06")),
              (c % 4 + 1).cast("int")))
          .otherwise(when(c % 3 === 0, "s99").when(c % 3 === 1, nullS)
            .otherwise(lit("s05"))).as("strategy_id"),
        when(cls === 5, c % 4).otherwise(nullL).as("replica_count"),
        when(cls.isin(6, 7), "realm")
          .when(cls === 8,
            when(c % 3 === 0, "group:2").when(c % 3 === 1, "group:5")
              .otherwise("group:5"))
          .when(cls === 9, "class:blob").otherwise(nullS).as("scope"))
      PlacementAdmin.mutationVerdicts(nodes, strategies, metaBindings,
        referenced, muts).orderBy("mut_id")
    },

    // Dangling-strategy reference repair (admin_document_reducer.rs:300-339):
    // realm rA keeps live strategies {S0,S2,S3,S5} so dangling refs repair
    // to the min live id S0; realm rB has none live so its default clears,
    // bindings are removed and overrides null out
    "adr2_strategy_repair" -> { (s, d) =>
      val strategies = s.range(0, 6).filter(col("id") % 3 =!= 1)
        .select(lit("rA").as("realm"),
          concat(lit("S"), col("id")).as("strategy_id"))
      val defaults = s.createDataFrame(Seq(("rA", "S1"), ("rB", "S9")))
        .toDF("realm", "strategy_id")
      val bindings = s.range(0, 8)
        .select(lit("rA").as("realm"), concat(lit("b"), col("id")).as("scope"),
          concat(lit("S"), col("id") % 7).as("strategy_id"))
        .unionByName(s.range(0, 3).select(lit("rB").as("realm"),
          concat(lit("b"), col("id")).as("scope"), lit("S0").as("strategy_id")))
      val overrides = s.range(0, 6)
        .select(lit("rA").as("realm"), concat(lit("o"), col("id")).as("subject"),
          when(col("id") % 3 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("S"), col("id") % 5)).as("strategy_id"))
        .unionByName(s.createDataFrame(Seq(
            ("rB", "o0", "S0"), ("rB", "o1", null.asInstanceOf[String])))
          .toDF("realm", "subject", "strategy_id"))
      PlacementAdmin.repairStrategyRefs(strategies, defaults, bindings,
        overrides).orderBy("realm", "kind", "key")
    },

    // Persisted task-timer fold (task_persistence.rs): Reset overwrites,
    // Shorten only ever moves due earlier, Cancel deletes, and the
    // drain-family keys never persist Reset/Shorten (they re-arm from
    // their durable queues) while Cancel still applies
    "tp1_timer_fold" -> { (s, d) =>
      val o = graft.Tables.orders(s, d)
      val keyId = col("o_custkey") % 20
      val log = o.select(
        concat(lit("task-"), lpad(keyId.cast("string"), 2, "0")).as("key"),
        (keyId < 7).as("durable"),
        element_at(array(lit("cancel"), lit("reset"), lit("shorten"),
          lit("shorten"), lit("shorten")),
          (col("o_orderkey") % 5 + 1).cast("int")).as("kind"),
        (lit(1700000000000L) + (col("o_orderkey") % 97) * 1000)
          .as("due_at_ms"),
        col("o_orderkey").cast("long").as("seq"))
      TaskTimers.fold(log).orderBy("key")
    },

    // Node-info heartbeat utilization (node_info.rs): held-document counts
    // via the (strategy, shard) held-bucket semi-join with NIL placements
    // held everywhere, and the per-core load permille with half-up
    // rounding, 1000 clamp and the zero-core guard
    "ni1_node_heartbeat" -> { (s, d) =>
      val nodes = s.createDataFrame(Seq(
        ("nv0", 4L, 500000L), ("nv1", 4L, 8000000L), ("nv2", 0L, 1000000L),
        ("nv3", 8L, 2400000L), ("nv4", 2L, 3000000L)))
        .toDF("node_id", "cores", "load1_u")
      val held = s.range(0, 5).select(
        concat(lit("nv"), col("id").cast("string")).as("node_id"),
        col("id").as("k"))
        .select(col("node_id"), explode(array(
          struct(lit("sA").as("strategy_id"), (col("k") % 8).as("shard")),
          struct(lit("sA").as("strategy_id"), ((col("k") + 1) % 8).as("shard")),
          struct(lit("sB").as("strategy_id"), ((col("k") * 2) % 8).as("shard"))))
          .as("h"))
        .select(col("node_id"), col("h.strategy_id"), col("h.shard"))
      val reg = graft.sparql.RdfTables.registry(s, d)
        .withColumn("doc", col("document_id").cast("long"))
        .select(
          when(col("doc") % 11 === 0, lit(null).cast("string"))
            .otherwise(when(col("doc") % 2 === 0, "sA").otherwise("sB"))
            .as("strategy_id"),
          (col("doc") % 8).as("shard"))
      NodeInfoStats.heartbeat(nodes, held, reg).orderBy("node_id")
    },

    // Byte-range resolution batch: the bytes= grammar (start-end with end
    // clamp, open start, suffix with saturation), invalid ranges
    // (start>end, start>=len, -0), ignored garbage syntax, marker-hidden
    // and missing keys
    "rg1_range_resolve" -> { (s, d) =>
      val versions = ObjectTables.versionsStore(s, d)
      val sel = versions.filter(col("version_ord") % 53 === 0)
      val raw = element_at(array(lit("bytes=2-5"), lit("bytes=0-"),
        lit("bytes=-4"), lit("bytes=5-2"), lit("bytes=999999-"),
        lit("bytes=10-999999"), lit("garbage"),
        lit(null).cast("string"), lit("bytes=-0")),
        (col("version_ord") % 9 + 1).cast("int"))
      val reqs = sel.select(
        concat(lit("r:"), col("bucket"), lit("/"), col("key"), lit("@"),
          col("version_ord").cast("string")).as("req_id"),
        col("bucket"), col("key"), raw.as("range_raw"))
        .unionByName(sel.filter(col("version_ord") % 106 === 0).select(
          concat(lit("m:"), col("bucket"), lit("/"), col("key")).as("req_id"),
          col("bucket"), concat(col("key"), lit(".gone")).as("key"),
          lit("bytes=0-1").as("range_raw")))
      ObjectOps.resolveRanges(versions, reqs).orderBy("req_id")
    },

    // Composite-checksum verification: the checksum-of-checksums
    // aggregation (ordered per-part digests -> one digest + '-N') with
    // the declared-value grammar (last-dash split, digit suffix) and the
    // count/digest mismatch ladder
    "ck1_composite_checksums" -> { (s, d) =>
      val parts = ObjectTables.parts(s, d).select(col("upload_id"),
        col("part_number"), col("hash").as("digest_hex"))
      val comps = Checksums.composites(parts)
        .withColumn("uo", col("upload_id").cast("long"))
        .filter(col("uo") % 89 === 4)
      val decl = comps.select(col("upload_id"),
        when(col("uo") % 6 === 0,
          concat(col("composite"), lit("-"), col("n_parts")))
          .when(col("uo") % 6 === 1,
            concat(col("composite"), lit("-"), col("n_parts") + 1))
          .when(col("uo") % 6 === 2, concat(col("composite"), lit("-")))
          .when(col("uo") % 6 === 3, concat(col("composite"), lit("-x")))
          .when(col("uo") % 6 === 4, col("composite"))
          .otherwise(lit("deadbeefdeadbeefdeadbeefdeadbeef"))
          .as("declared"))
        .unionByName(comps.filter(col("uo") % 13 === 4).select(
          concat(lit("zz"), col("upload_id")).as("upload_id"),
          col("composite").as("declared")))
      Checksums.verify(parts, decl).orderBy("upload_id", "declared")
    },

    // MarkRead verdict batch: u0 names ~1/7 of its 12k-row inbox by id
    // (over the 512-id cap -> too_many_ids, nothing marked), u2 names a
    // legal ~1/97 subset, u1/c0 mark by time watermark
    "nf4_mark_read" -> { (s, d) =>
      val inbox = NotificationTables.inbox(s, d)
      val ids = inbox.filter(
          (col("recipient") === "u0" &&
            col("notification_id").cast("long") % 7 === 3) ||
          (col("recipient") === "u2" &&
            col("notification_id").cast("long") % 97 === 3))
        .select(col("recipient"), col("notification_id"))
      val times = (s.range(1).select(lit("u1").as("recipient"),
          lit(1700000000000L + 2500000L).as("up_to_ms")))
        .unionByName(s.range(1).select(lit("c0").as("recipient"),
          lit(1700000000000L + 700000L).as("up_to_ms")))
      Notifications.markRead(inbox, ids, times, nowMs = 1700000009999L)
        .orderBy(col("recipient"))
    },

    "cat8_usage_delta" -> { (s, d) =>
      val live = ObjectTables.blobs(s, d).filter(!col("staging") && !col("partial"))
      val obj = ObjectTables.objects(s, d)
        .filter(!col("is_delete_marker"))
        .join(broadcast(live.select(col("blake3").as("hash"))), Seq("hash"))
        .join(broadcast(ObjectTables.buckets(s, d)), Seq("bucket"))
      // l_linenumber is 1..7, so version_ord%10 is never 0 — split at <=2
      // so BOTH the base and the delta side are non-trivially exercised
      val base = obj.filter(col("version_ord") % 10 > 2)
        .groupBy(col("group_id"))
        .agg(count(lit(1)).as("stored_blobs"), sum(col("size")).as("stored_bytes"))
      val deltas = obj.filter(col("version_ord") % 10 <= 2)
        .select(col("group_id"), lit(1L).as("d_blobs"), col("size").as("d_bytes"))
      UsageStats.applyDeltas(base, deltas).orderBy(col("group_id"))
    },

    // outbound replication destinations for a probe batch: the admission
    // rule over sync relationships + the map_sync_key prefix rewrite
    // (relationships.rs target_of); foreign-source / Once / Paused / local-
    // target / marker-declining rows and prefix misses all contribute nothing
    "rs1_replica_targets" -> { (s, d) =>
      Replication.replicaTargets(ReplicationTables.probes(s, d),
          ReplicationTables.relationships(s), ReplicationTables.LocalNode)
        .orderBy(col("p_bucket"), col("p_key"), col("node_id"),
          col("t_bucket"), col("t_key"))
    },

    // job-store retention prune batch: due-ordered index walk with the
    // 4x512-key deletion cap, entry-truncation stop, cleanup fences and
    // malformed/orphan index hygiene; at this fixture the cap binds a few
    // hundred rows into a ~9k-row due backlog
    "jp1_job_prune" -> { (s, d) =>
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val idx = o.select(
        (lit(1700000000000L) + (col("o") % 2000) * 1000).as("expiry_ms"),
        lpad(col("o").cast("string"), 12, "0").as("job_id"),
        (col("o") % 211 === 0).as("malformed"),
        (col("o") % 13 =!= 0).as("exists"),
        (col("o") % 13 =!= 0 && col("o") % 211 =!= 0 && col("o") % 17 === 0)
          .as("fenced"),
        (col("o") % 5 + 1).cast("int").as("n_entries"),
        (col("o") % 2 === 0).as("rocrate"),
        (col("o") % 6 === 0).as("has_dedup"),
        (col("o") % 3).cast("int").as("epochs"))
      JobPrune.pruneBatch(idx, nowMs = 1700000000000L + 1200000L)
        .orderBy(col("verdict"))
    },

    // user identity merge over the OIDC subject index: users sharing a
    // subject within a realm fold to the min-id canonical with unioned
    // subjects and loser-ids-as-aliases; the same subject in ANOTHER realm
    // never merges. Blocks of 8 users share a realm; div-2/div-3 subject
    // windows chain inside a block and break at its edge.
    "us3_subject_merge" -> { (s, d) =>
      val c = graft.Tables.customer(s, d).select(col("c_custkey"))
      def uid = concat(lit("u"), lpad(col("c_custkey").cast("string"), 8, "0"))
      def realm = concat(lit("r"),
        ((col("c_custkey") / 8).cast("long") % 3).cast("string"))
      val subjects = c.select(uid.as("user_id"), realm.as("realm"),
          concat(lit("oidc:"), (col("c_custkey") / 2).cast("long").cast("string"))
            .as("subject"))
        .unionByName(c.select(uid.as("user_id"), realm.as("realm"),
          concat(lit("sso:"), (col("c_custkey") / 3).cast("long").cast("string"))
            .as("subject")))
      val aliases = c.filter(col("c_custkey") % 5 === 0)
        .select(uid.as("user_id"),
          concat(lit("x"), lpad(col("c_custkey").cast("string"), 8, "0"))
            .as("alias_id"))
      Identity.subjectMerge(subjects, aliases)
        .orderBy(col("realm"), col("canonical_id"))
    },

    // the /blobs/locations merge: four candidate phases -> 64-destination
    // arrival cap -> per-destination Present/Pending/NotStored verdicts with
    // the holder-only drop rule, plus the queued-scan/cap/path limit trailer
    "rs2_blob_locations" -> { (s, d) =>
      Replication.blobLocations(ReplicationTables.probes(s, d),
          ReplicationTables.relationships(s), ReplicationTables.bucketTargets(s),
          ReplicationTables.jobs(s, d), ReplicationTables.LocalNode)
        .orderBy(col("p_bucket"), col("p_key"), col("local").desc,
          col("node_id"), col("bucket"), col("key"))
    },

    // PutBucketReplication validation (s3_service.rs:300-375 +
    // put_bucket_replication.rs): request batches of 1-3 XML rules walk
    // the first-fail ladder — workspace source, per-rule ARN grammar
    // (parse / not-s3 / realm / prefix / workspace target / self), all-
    // disabled => NoEnabledTargets, catalog miss => NoSuchBucket — and
    // admitted rules emit the bucket-target config rows (node, bucket,
    // replicate_dm) that the rs1/rs2 location merge consumes.
    "pbr1_put_replication" -> { (s, d) =>
      val w = (col("o_orderkey") / 71).cast("long") % 8
      val base = graft.Tables.orders(s, d)
        .filter(col("o_orderkey") % 71 === 0)
        .select(
          concat(lit("pr"), col("o_orderkey").cast("string")).as("req_id"),
          when(w === 0, "ws-tmp-1")
            .otherwise(concat(lit("bkt-"), (col("o_custkey") % 6).cast("string")))
            .as("bucket"),
          (w === 1).as("all_disabled"),
          (col("o_orderkey") % 3 + 1).cast("int").as("nr"),
          col("o_orderkey"))
      val u = (col("o_orderkey") + col("rule_seq")) % 10
      val nodeK = (col("o_orderkey") % 5).cast("string")
      val tbK = (col("o_orderkey") % 7).cast("string")
      val rules = base
        .select(col("req_id"), col("bucket"), col("all_disabled"),
          col("o_orderkey"),
          explode(sequence(lit(1), col("nr"))).as("rule_seq"))
        .select(col("req_id"), col("bucket"),
          col("rule_seq").cast("int").as("rule_seq"),
          when(col("all_disabled"), "Disabled").otherwise("Enabled")
            .as("status"),
          when(u === 0, concat(lit("arn:aruna:rlmA:n"), nodeK,
              lit(":s3/tb-"), tbK))
            .when(u === 1, lit("nonsense"))
            .when(u === 2, lit("arn:aruna:rlmA:n3:ch/abcd"))
            .when(u === 3, lit("arn:aruna:rlmB:n3:s3/tb-9"))
            .when(u === 4, lit("arn:aruna:rlmA:n3:s3/tb-2/pre/fix"))
            .when(u === 5, lit("arn:aruna:rlmA:n3:s3/ws-shadow"))
            .when(u === 6, concat(lit("arn:aruna:rlmA:n0:s3/"), col("bucket")))
            .when(u === 7, lit("arn:aruna:rlmA:n4:s3"))
            .when(u === 8, lit("arn:aruna:rlmA:n5:s3/"))
            .otherwise(concat(lit("arn:aruna:rlmA:n"), nodeK,
              lit(":s3/tbm-"), tbK)).as("dest_arn"),
          when(u === 9, "Enabled").when(u === 0, "Disabled")
            .otherwise(lit(null).cast("string")).as("dm_status"))
      Replication.putReplicationVerdicts(ObjectTables.buckets(s, d), rules,
          localNode = "n0", localRealm = "rlmA")
        .orderBy(col("req_id"), col("rule_seq").asc_nulls_first)
    },

    // Materialization-queue drain: the full per-document ladder — ordering
    // blocks, status obsolescence, missing events, deleted graphs, the
    // terminal/transient/application failure taxonomy, park-at-10 with
    // dead-letter backoff, guarded status writes, per-graph sync dedup
    "mz1_materialization_drain" -> { (s, d) =>
      MaterializationQueue.drain(mqJobs(s, d), mqStatus(s, d),
          mqEvents(s, d), mqLifecycle(s, d), mqDeadLetters(s, d),
          nowMs = MqNow)
        .orderBy("doc_id", "event_id")
    },

    // Dead-letter requeue sweep: not-due letters wait, vanished events and
    // superseded documents drop their letters, the rest requeue with a
    // one-failure budget and their park count carried
    "mz2_dead_letter_requeue" -> { (s, d) =>
      MaterializationQueue.requeueDeadLetters(mz2DeadLetters(s, d),
          mqStatus(s, d), mqEvents(s, d), nowMs = MqNow)
        .orderBy("doc_id", "event_id")
    },

    // Graph-prune tombstone intake: first-deleted-wins graph dedup, prune
    // when the store still holds the graph, IRI-index rows of the deleted
    // documents cleaned in the same pass
    "gp1_prune_tombstones" -> { (s, d) =>
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val tmb = o.select(col("o").cast("long").as("seq"),
        concat(lit("g"), (col("o") % 80).cast("string")).as("graph_iri"),
        (col("o") % 240 + 1000).cast("long").as("document_id"),
        (col("o") % 5 =!= 0).as("deleted"))
      val sg = s.range(0, 80).filter(col("id") % 3 =!= 1)
        .select(concat(lit("g"), col("id").cast("string")).as("graph_iri"))
      val idx = o
        .filter((col("o") % 240 + 1000 + col("o") % 11) % 3 =!= 0)
        .select((col("o") % 240 + 1000).cast("long").as("document_id"),
          concat(lit("r"), (col("o") % 11).cast("string")).as("ref_iri"))
        .distinct()
      GraphPrune.tombstones(tmb, sg, idx).orderBy("graph_iri")
    },

    // Incoming-replication negotiation: hop/realm/permission rejections,
    // already-replicated short-circuits, adopt-local-copy vs need-bytes,
    // full-backend refusal only when bytes are needed, replaced-bytes
    // accounting and the create-before-permissions bucket rule
    "ivr1_incoming_negotiation" -> { (s, d) =>
      val m = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 96).cast("long").as("m")).distinct()
      val manifests = m.select(
        concat(lit("bk"), (col("m") % 12).cast("string")).as("bucket"),
        concat(lit("k"), col("m").cast("string")).as("key"),
        (col("m") % 4).as("version_id"),
        when(col("m") % 5 === 0, "delete_marker")
          .when(col("m") % 5 === 1, "reference")
          .otherwise("materialized").as("kind"),
        when(col("m") % 17 === 3, 5L).otherwise(col("m") % 3)
          .as("hop_count"),
        when(col("m") % 19 === 4, "other").otherwise("r1").as("realm"),
        when(col("m") % 23 === 5, "other")
          .when(col("m") % 2 === 0, "r1").as("writer_realm"),
        concat(lit("h"), (col("m") % 40).cast("string")).as("hash"),
        concat(lit("s"), (col("m") % 7).cast("string")).as("ref_sig"),
        concat(lit("b"), ((col("m") % 12) % 4).cast("string"))
          .as("route_backend"))
      val buckets = s.range(0, 12).filter(col("id") % 5 =!= 4)
        .select(concat(lit("bk"), col("id").cast("string")).as("bucket"))
      val perms = s.range(0, 12).select(
        concat(lit("bk"), col("id").cast("string")).as("bucket"),
        (col("id") % 7 =!= 2).as("can_write"),
        (col("id") % 11 =!= 3).as("writer_ok"))
      val versions = m.filter(col("m") % 7 < 4).select(
        concat(lit("bk"), (col("m") % 12).cast("string")).as("bucket"),
        concat(lit("k"), col("m").cast("string")).as("key"),
        (col("m") % 4).as("version_id"),
        when((col("m") * 5) % 4 === 1, "deleted")
          .when((col("m") * 5) % 4 === 2, "reference")
          .otherwise("materialized").as("state"),
        concat(lit("h"), when(col("m") % 6 === 0, col("m") % 40)
          .otherwise((col("m") + 1) % 40).cast("string")).as("hash"),
        concat(lit("s"), when(col("m") % 8 === 0, col("m") % 7)
          .otherwise((col("m") + 2) % 7).cast("string")).as("ref_sig"),
        (col("m") + 100L).as("ref_len"))
      val locs = s.range(0, 40).select(col("id").as("x"))
        .crossJoin(s.range(0, 4).select(col("id").as("b")))
        .filter((col("x") + col("b") * 7) % 5 < 2)
        .select(concat(lit("h"), col("x").cast("string")).as("hash"),
          concat(lit("b"), col("b").cast("string")).as("backend"),
          (col("x") * 10 + 1000L).as("size"))
      val backends = s.range(0, 4).select(
        concat(lit("b"), col("id").cast("string")).as("backend"),
        (col("id") === 2).as("full"))
      IncomingReplication.negotiate(manifests, buckets, perms, versions,
          locs, backends, localRealm = "r1")
        .orderBy("bucket", "key", "version_id")
    },

    // Head-transition ladder: non-current items never touch the pointer,
    // missing generation fails, (generation, version) strictly-greater or
    // equal advances, liveness delta for usage accounting
    "ivr2_head_transition" -> { (s, d) =>
      val n = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 80).cast("long").as("n")).distinct()
      val applies = n.select(
        concat(lit("hb"), (col("n") % 10).cast("string")).as("bucket"),
        concat(lit("hk"), col("n").cast("string")).as("key"),
        (col("n") % 5).as("version_id"),
        when(col("n") % 9 === 7, lit(null).cast("long"))
          .otherwise(col("n") % 4).as("generation"),
        when(col("n") % 3 === 0, "delete_marker").otherwise("materialized")
          .as("kind"),
        (col("n") % 6 =!= 5).as("current_version"))
      val pointers = n.filter(col("n") % 5 =!= 4).select(
        concat(lit("hb"), (col("n") % 10).cast("string")).as("bucket"),
        concat(lit("hk"), col("n").cast("string")).as("key"),
        when(col("n") % 10 === 6, col("n") % 5).otherwise((col("n") + 2) % 5)
          .as("ptr_version"),
        when(col("n") % 10 === 6, col("n") % 4).otherwise((col("n") * 3) % 4)
          .as("ptr_generation"))
      val curStates = n.filter(col("n") % 5 =!= 4).select(
        concat(lit("hb"), (col("n") % 10).cast("string")).as("bucket"),
        concat(lit("hk"), col("n").cast("string")).as("key"),
        when(col("n") % 10 === 6, col("n") % 5).otherwise((col("n") + 2) % 5)
          .as("version_id"),
        when(col("n") % 2 === 0, "materialized").otherwise("deleted")
          .as("state"))
      IncomingReplication.headTransition(applies, pointers, curStates)
        .orderBy("bucket", "key", "version_id")
    },

    // Initial realm-admin claim: one-shot bootstrap ladder where doc-view
    // assignment, reducer assignment and conflicted claim paths all
    // refuse idempotently, and a foreign-target reducer state errors
    "ca1_claim_admin" -> { (s, d) =>
      val c = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 52).cast("long").as("c")).distinct()
      val claims = c.select(
        concat(lit("rm"), col("c").cast("string")).as("realm_id"),
        (col("c") % 7 =!= 2).as("has_auth_doc"),
        (col("c") % 9 =!= 3).as("has_role"),
        when(col("c") % 5 === 1, col("c") % 3 + 1).otherwise(0L)
          .as("n_assigned"),
        // reducer state exists only for c%4 != 0
        when(col("c") % 4 =!= 0, col("c") % 11 =!= 4)
          .as("reducer_target_ok"),
        when(col("c") % 4 =!= 0, col("c") % 13 === 5)
          .as("reducer_assigned"),
        when(col("c") % 4 =!= 0, col("c") % 17 === 8)
          .as("reducer_conflict"))
      Onboarding.claimInitialAdmin(claims).orderBy("realm_id")
    },

    // RO-Crate export planning: external/unsupported omissions, quad-
    // confirmed localPath choice, safe-zip-path rules with reserved-name
    // filtering and blake3-synthesized fallbacks, dup/length failures
    "ex1_export_plan" -> { (s, d) =>
      val base = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 48).cast("long").as("e")).distinct()
        .withColumn("es", col("e").cast("string"))
        .withColumn("raw_path",
          when(col("e") % 24 === 13,
            concat(lit("docs/"), expr("repeat('L', 300)")))
            .when(col("e") % 16 === 9, "docs/dup.txt")
            .when(col("e") % 8 === 0,
              concat(lit("docs/a"), col("es"), lit(".txt")))
            .when(col("e") % 8 === 1,
              concat(lit("./x/y"), col("es"), lit(".bin")))
            .when(col("e") % 8 === 2, concat(lit("bad\\p"), col("es")))
            .when(col("e") % 8 === 3, concat(lit("a//b"), col("es")))
            .when(col("e") % 8 === 4, concat(lit("enc%2Fx"), col("es")))
            .when(col("e") % 8 === 5, concat(lit("dir"), col("es"),
              lit("/")))
            .when(col("e") % 8 === 6, "ro-crate-metadata.json"))
      val entities = base.select(
        concat(lit("en"), col("es")).as("ent_id"),
        (col("e") % 11 =!= 6).as("is_file"),
        when(col("e") % 16 === 9 || col("e") % 24 === 13, "r1")
          .when(col("e") % 6 === 0, "r1").when(col("e") % 6 === 1, "rX")
          .as("exact_realm"),
        (col("e") % 4 =!= 1).as("has_hash"),
        when(col("e") % 9 === 0, "rX").when(col("e") % 9 === 1, "r1")
          .as("hash_realm"),
        col("raw_path"),
        when(col("e") % 8 === 7,
          concat(lit("fb/q"), col("es"), lit(".dat")))
          .when(col("e") % 5 === 4, concat(lit("alt/q"), col("es")))
          .otherwise(col("raw_path")).as("qp1"),
        when(col("e") % 7 === 0, concat(lit("alt2/q"), col("es")))
          .as("qp2"),
        concat(md5(concat(lit("h"), col("es"))),
          md5(concat(lit("g"), col("es")))).as("hash_hex"))
      ExportPlan.plan(entities, localRealm = "r1", keyBytes = 200L)
        .orderBy("ent_id")
    },

    // RO-Crate export entity recognition with @context keyword aliases
    // (export.rs recognize_entities + rocrate_jsonld.rs JsonLdKeywords):
    // three context flavors — no context, string aliases for
    // @id/@graph + IRI-mapped localPath/contentUrl terms, and object-def
    // aliases including an aliased @type key — over crates synthesized
    // from the documents table; quad-confirmed vs quad-only ({"@value"})
    // localPath resolution and the File/MediaObject vocabulary expansion
    "ex2_context_alias_recognition" -> { (s, d) =>
      val docs = graft.Tables.documents(s, d).select(col("doc_id"))
      val id = col("doc_id").cast("string")
      def crate(ctxJson: String, graphKey: String, idK: String,
          typeK: String, typeVal: String, cuK: String, pathK: String) =
        concat(
          lit(s"""{$ctxJson"$graphKey": [{"$idK": "ro-crate-metadata.json", "$typeK": "CreativeWork", "about": {"$idK": "./"}}, {"$idK": "./", "$typeK": "Dataset", "name": "crate-"""),
          id,
          lit(s""""}, {"$idK": "data/"""), id,
          lit(s""".txt", "$typeK": "$typeVal""""),
          when(col("doc_id") % 5 =!= 0,
            concat(lit(s""", "$cuK": "https://example.org/c/"""), id,
              lit("\""))).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(s""", "$pathK": "data/"""), id, lit(".txt\"")))
            .otherwise(concat(lit(s""", "$pathK": {"@value": "alt/"""), id,
              lit(""".bin"}"""))),
          lit("}"),
          when(col("doc_id") % 7 === 0,
            concat(lit(s""", {"$idK": "data/extra-"""), id,
              lit(s""".png", "$typeK": "$typeVal"}"""))).otherwise(lit("")),
          lit("]}"))
      val v0 = crate("", "@graph", "@id", "@type", "File",
        "contentUrl", "localPath")
      val v1 = crate(
        """"@context": {"identifier": "@id", "entries": "@graph", "location": "https://w3id.org/ro/terms#localPath", "download": "http://schema.org/contentUrl"}, """,
        "entries", "identifier", "@type", "File", "download", "location")
      val v2 = crate(
        """"@context": {"ident": {"@id": "@id"}, "items": {"@id": "@graph"}, "typ": {"@id": "@type"}, "cu": {"@id": "https://schema.org/contentUrl"}}, """,
        "items", "ident", "typ", "MediaObject", "cu", "localPath")
      val crates = docs.select(col("doc_id").as("crate_id"),
        when(col("doc_id") % 3 === 0, v0)
          .when(col("doc_id") % 3 === 1, v1)
          .otherwise(v2).as("jsonld"))
      ExportRecognize.recognize(crates).orderBy("crate_id", "subject")
    },

    // RO-Crate import validation (jobs/import/rewrite.rs validate_document):
    // in-place id percent-encoding, the unsupported-crate-version gate,
    // File-subject typing through the @context ladder, duplicate-definition
    // failures, File ids in traversal order
    "im1_import_validate" -> { (s, d) =>
      ImportRewrite.validate(importCrates(s, d)).orderBy("crate_id")
    },

    // RO-Crate import rewrite (jobs/import/rewrite.rs rewrite_document):
    // staged-target id replacement under keyword aliases, mixed
    // raw/encoded spelling matching via expanded_targets, localPath +
    // contentUrl prepends (compact vs absolute-IRI keys per term_matches,
    // scalar→array merge), the v1.1 ensure_local_context arm, and
    // plain-string reference warnings
    "im2_import_rewrite" -> { (s, d) =>
      ImportRewrite.rewriteSummary(importCrates(s, d), importTargets(s, d))
        .orderBy("crate_id")
    },

    // Handle-pool transfer slice: upper-ceil-half of the largest free
    // band run, earliest run wins ties, sub-two-band runs transfer nothing
    "hp1_pool_slice" -> { (s, d) =>
      val sc = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 20).cast("long").as("sc")).distinct()
      val spans = sc.select(col("sc").as("sc_id"), lit(0L).as("span_idx"),
          lit(0L).as("span_start"),
          ((col("sc") % 6 + 2) * 1024L).as("span_end"))
        .unionByName(sc.select(col("sc").as("sc_id"),
          lit(1L).as("span_idx"), lit(100000L).as("span_start"),
          (lit(100000L) + (col("sc") % 4) * 1024L).as("span_end")))
      val consumed = sc.select(col("sc").as("sc_id"),
          (col("sc") % 3 * 1024L).as("c_start"),
          (col("sc") % 3 * 1024L + 300L).as("c_end"))
        .unionByName(sc.filter(col("sc") % 2 === 0)
          .select(col("sc").as("sc_id"), lit(2048L).as("c_start"),
            lit(4096L).as("c_end")))
        .unionByName(sc.filter(col("sc") % 5 === 1)
          .select(col("sc").as("sc_id"), lit(100000L).as("c_start"),
            lit(101024L).as("c_end")))
      HandlePool.transferSlices(spans, consumed).orderBy("sc_id")
    },

    // DeleteBucket ladder: missing bucket, the three emptiness checks in
    // order (objects, versions, open uploads filtered by bucket), and
    // relationship cleanup counts on the delete path
    "db1_delete_bucket" -> { (s, d) =>
      val bx = s.range(0, 24).select(col("id").as("x"))
      val requests = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 28).cast("long").as("b")).distinct()
        .select(concat(lit("db"), col("b").cast("string")).as("bucket"))
      val buckets = bx.select(
        concat(lit("db"), col("x").cast("string")).as("bucket"))
      def rows(cond: org.apache.spark.sql.Column, n: Int, tag: String) =
        bx.filter(cond)
          .crossJoin(s.range(0, n).select(col("id").as("i")))
          .select(concat(lit("db"), col("x").cast("string")).as("bucket"),
            concat(lit(tag), col("i").cast("string")).as("k"))
      val heads = rows(col("x") % 5 === 1, 3, "k").toDF("bucket", "key")
      val versions = rows(col("x") % 5 === 2, 2, "v")
        .toDF("bucket", "key").withColumn("version_id", lit(1L))
      val uploads = rows(col("x") % 5 === 3, 2, "up")
        .select(col("k").as("upload_id"), col("bucket"))
      val relsOut = rows(col("x") % 3 === 0, 2, "ro")
        .toDF("bucket", "rel_id")
      val relsIn = rows(col("x") % 4 === 0, 3, "ri")
        .toDF("bucket", "rel_id")
      ObjectOps.deleteBuckets(requests, buckets, heads, versions, uploads,
        relsOut, relsIn).orderBy("bucket")
    },

    // Workflow output expansion: wildcard selections need a prefix, match
    // caps, one stray path fails the whole selection, suffix-composed
    // destination keys with the trailing-slash trim
    "wo1_output_expand" -> { (s, d) =>
      val v = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 44).cast("long").as("v")).distinct()
      val sels = v.select(
        concat(lit("sl"), col("v").cast("string")).as("sel_id"),
        concat(lit("/out/p"), (col("v") % 4).cast("string"), lit("/f"),
          col("v").cast("string")).as("container_path"),
        (col("v") % 3 =!= 0).as("wildcard"),
        when(col("v") % 3 =!= 0 && col("v") % 7 === 1,
          lit(null).cast("string"))
          .otherwise(concat(lit("/out/p"), (col("v") % 4).cast("string")))
          .as("path_prefix"),
        concat(lit("ob"), (col("v") % 5).cast("string")).as("dest_bucket"),
        when(col("v") % 2 === 0,
          concat(lit("res/"), col("v").cast("string"), lit("/")))
          .otherwise(concat(lit("res/"), col("v").cast("string")))
          .as("dest_key"))
      val matches = v.filter(col("v") % 3 =!= 0)
        .crossJoin(s.range(0, 5).select(col("id").as("j")))
        .filter(col("j") < col("v") % 5)
        .select(concat(lit("sl"), col("v").cast("string")).as("sel_id"),
          when((col("v") * 7 + col("j")) % 13 === 2,
            concat(lit("/outside/f"), col("j").cast("string")))
            .otherwise(concat(lit("/out/p"), (col("v") % 4).cast("string"),
              lit("/d"), col("j").cast("string"), lit("/f"),
              col("j").cast("string"))).as("path"))
      WorkflowOutputs.expand(sels, matches, maxMatches = 3L)
        .orderBy("sel_id", "container_path_out")
    },

    // Workflow manifest merge: export rows win their (bucket, key) over a
    // retried finalize's inventory, first-wins dedup, overflow trailer
    "wo2_output_merge" -> { (s, d) =>
      val o = graft.Tables.orders(s, d).select(col("o_orderkey").as("o"))
      val inv = o.select((col("o") % 50).cast("long").as("u")).distinct()
        .select(concat(lit("mb"), (col("u") % 4).cast("string"))
          .as("bucket"),
          concat(lit("mk"), (col("u") % 25).cast("string")).as("key"),
          (col("u") * 3).as("size"), col("u").as("seq"))
      val cap1 = o.select((col("o") % 30).cast("long").as("c")).distinct()
        .select(concat(lit("mb"), (col("c") % 4).cast("string"))
          .as("bucket"),
          concat(lit("mk"), (col("c") % 25).cast("string")).as("key"),
          concat(lit("/out/f"), col("c").cast("string"))
            .as("container_path"),
          (col("c") * 5 + 1).as("size"), (col("c") + 1000L).as("seq"))
      val cap2 = o.select((col("o") % 15).cast("long").as("c")).distinct()
        .select(concat(lit("mb"), (col("c") % 4).cast("string"))
          .as("bucket"),
          concat(lit("mk"), (col("c") % 25).cast("string")).as("key"),
          concat(lit("/dup/f"), col("c").cast("string"))
            .as("container_path"),
          (col("c") * 5 + 1).as("size"), (col("c") + 2000L).as("seq"))
      WorkflowOutputs.merge(inv, cap1.unionByName(cap2), maxObjects = 40L)
        .orderBy("bucket", "key")
    },

    // Staging-reference materialization: bucket/connector guards, the
    // same-source+metadata idempotent no-op, objects delta only when the
    // previous head was not live, referenced-bytes always grows
    "sr1_materialize_reference" -> { (s, d) =>
      val w = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 70).cast("long").as("w")).distinct()
      val reqs = w.select(
        concat(lit("sb"), (col("w") % 7).cast("string")).as("bucket"),
        concat(lit("sk"), col("w").cast("string")).as("key"),
        concat(lit("src"), (col("w") % 5).cast("string")).as("src_sig"),
        (col("w") * 11 + 50L).as("content_length"),
        concat(lit("ct"), (col("w") % 3).cast("string")).as("content_type"),
        concat(lit("e"), (col("w") % 9).cast("string")).as("etag"),
        (col("w") % 13 + 7000L).as("last_modified"),
        (col("w") % 17 =!= 4).as("bucket_ok"),
        (col("w") % 19 =!= 6).as("connector_ok"))
      val pointers = w.filter(col("w") % 3 =!= 1).select(
        concat(lit("sb"), (col("w") % 7).cast("string")).as("bucket"),
        concat(lit("sk"), col("w").cast("string")).as("key"),
        (col("w") % 4).as("ptr_version"))
      val versions = w.filter(col("w") % 3 =!= 1).select(
        concat(lit("sb"), (col("w") % 7).cast("string")).as("bucket"),
        concat(lit("sk"), col("w").cast("string")).as("key"),
        (col("w") % 4).as("version_id"),
        when(col("w") % 6 === 0, "deleted")
          .when(col("w") % 6 === 2, "materialized")
          .otherwise("reference").as("state"),
        concat(lit("src"), when(col("w") % 8 === 0, (col("w") + 1) % 5)
          .otherwise(col("w") % 5).cast("string")).as("src_sig"),
        when(col("w") % 10 === 5, col("w") * 11 + 51L)
          .otherwise(col("w") * 11 + 50L).as("content_length"),
        concat(lit("ct"), (col("w") % 3).cast("string")).as("content_type"),
        concat(lit("e"), when(col("w") % 12 === 9, (col("w") + 1) % 9)
          .otherwise(col("w") % 9).cast("string")).as("etag"),
        (col("w") % 13 + 7000L).as("last_modified"))
      StagingReference.materialize(reqs, pointers, versions)
        .orderBy("bucket", "key")
    },

    // Shard-topic genesis ladder: rank-0 creates only with positive
    // confirmation no genesis exists anywhere (split-brain avoidance),
    // failed adopts withhold rather than fork, members pull and never mint
    "pp1_genesis_ladder" -> { (s, d) =>
      val t = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 88).cast("long").as("t")).distinct()
      val topics = t.select(
        concat(lit("tp"), col("t").cast("string")).as("topic_id"),
        (col("t") % 3 =!= 0).as("rank0"),
        (col("t") % 4).as("n_coholders"),
        (col("t") % 5 === 0).as("exists_locally"),
        (col("t") % 7 === 1).as("known_by_coholder"),
        (col("t") % 11 === 2).as("unconfirmed"),
        (col("t") % 13 === 3).as("group_unreachable"),
        (col("t") % 17 =!= 5).as("lands"))
      PlacementTopics.genesisLadder(topics).orderBy("topic_id")
    },

    // Job submission fold: dedup-index short-circuit with the ghost-row
    // repoint rule, plan-digest conflicts, per-user active cap with the
    // zero-cap fast reject
    "js1_submit_dedup" -> { (s, d) =>
      val z = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 60).cast("long").as("z")).distinct()
      val subs = z.select(
        concat(lit("s"), col("z").cast("string")).as("sub_id"),
        concat(lit("u"), (col("z") % 8).cast("string")).as("user_id"),
        when(col("z") % 4 === 3, lit(null).cast("string"))
          .otherwise(concat(lit("dk"), (col("z") % 20).cast("string")))
          .as("dedup_key"),
        concat(lit("pd"), (col("z") % 6).cast("string")).as("plan_digest"),
        when(col("z") % 5 === 0, lit(null).cast("long"))
          .when(col("z") % 5 === 1, 0L)
          .otherwise(col("z") % 4 + 1).as("active_cap"))
      val idx = s.range(0, 20).filter(col("id") % 3 =!= 2).select(
        concat(lit("dk"), col("id").cast("string")).as("dedup_key"),
        concat(lit("j"), col("id").cast("string")).as("job_id"),
        concat(lit("pd"), (col("id") % 6).cast("string")).as("digest"),
        (col("id") % 7 =!= 5).as("parseable"))
      val jobs = s.range(0, 20).filter(col("id") % 5 =!= 4).select(
        concat(lit("j"), col("id").cast("string")).as("job_id"),
        (col("id") % 6 =!= 3).as("decodable"))
      val active = s.range(0, 8).select(
        concat(lit("u"), col("id").cast("string")).as("user_id"),
        (col("id") % 5).as("n_active"))
      JobSubmit.fold(subs, idx, jobs, active).orderBy("sub_id")
    },

    // Reference-metadata refresh apply: stale refreshes never roll back,
    // non-reference and missing versions skip, created_at/created_by and
    // user metadata survive the cached-metadata swap
    "rrm1_reference_refresh" -> { (s, d) =>
      val y = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 56).cast("long").as("y")).distinct()
      val versions = y.filter(col("y") % 13 =!= 6).select(
        concat(lit("rb"), (col("y") % 7).cast("string")).as("bucket"),
        concat(lit("rk"), col("y").cast("string")).as("key"),
        (col("y") % 3).as("version_id"),
        when(col("y") % 4 === 0, "materialized").otherwise("reference")
          .as("state"),
        (col("y") % 5 * 150 + 5000L).as("last_refresh"),
        (col("y") + 100L).as("created_at"),
        concat(lit("mt"), (col("y") % 4).cast("string")).as("meta_tag"),
        (col("y") * 10).as("content_length"))
      val refreshes = y.select(
        concat(lit("rb"), (col("y") % 7).cast("string")).as("bucket"),
        concat(lit("rk"), col("y").cast("string")).as("key"),
        (col("y") % 3).as("version_id"),
        (col("y") % 9 * 100 + 5000L).as("refreshed_at"),
        (col("y") * 7 + 3L).as("new_content_length"))
      ObjectOps.refreshReference(versions, refreshes)
        .orderBy("bucket", "key", "version_id")
    },

    // Metadata-write forward walk: rank-ordered holder attempts with the
    // denied/reject/possibly-sent terminals, create-vs-update not-found
    // accounting, the all-holders-miss rule and fail-closed empty routes
    "fw1_forward_walk" -> { (s, d) =>
      val r = graft.Tables.orders(s, d)
        .select((col("o_orderkey") % 72).cast("long").as("r")).distinct()
      val requests = r.select(
        concat(lit("q"), col("r").cast("string")).as("req_id"),
        when(col("r") % 3 === 0, "create").when(col("r") % 3 === 1, "update")
          .otherwise("delete").as("op"),
        when(col("r") % 11 === 9, "local")
          .when(col("r") % 11 === 10, "forward_empty")
          .otherwise("forward").as("route"),
        (col("r") % 5 === 1).as("local_miss"))
      val attempts = r.filter(col("r") % 11 =!= 9 && col("r") % 11 =!= 10)
        .crossJoin(s.range(0, 3).select(col("id").as("j")))
        .filter(col("j") <= col("r") % 3)
        .select(concat(lit("q"), col("r").cast("string")).as("req_id"),
          col("j").as("rank"),
          concat(lit("n"), ((col("r") + col("j")) % 9).cast("string"))
            .as("node_id"),
          element_at(array(lit("ok"), lit("denied_unauthorized"),
            lit("denied_forbidden"), lit("not_found"), lit("unavailable"),
            lit("reject"), lit("err_not_sent"), lit("err_possibly_sent"),
            lit("local_self"), lit("not_found"), lit("not_found"),
            lit("unavailable")),
            ((col("r") * 5 + col("j") * 7) % 12 + 1).cast("int"))
            .as("resp"))
      ForwardWalk.fold(requests, attempts).orderBy("req_id")
    },

    // Graph-prune drain page: 128-cap key-order scan with the wake-up
    // hint, per-graph group ladder — raced-recreate drop, prune, or the
    // representative-job backoff reschedule
    "gp2_prune_drain" -> { (s, d) =>
      val base = graft.Tables.orders(s, d).select(
        (col("o_orderkey") % 160).cast("long").as("k"),
        expr("CAST((o_orderkey div 160) % 2 AS BIGINT)").as("seq"))
        .distinct()
        .withColumn("h", col("k") * 3 + col("seq") * 5)
      val jobs = base.select(
        concat(lit("g"), col("k").cast("string")).as("graph_iri"),
        col("seq"),
        when(col("h") % 4 === 0, lit(MqNow) + (col("h") % 9 + 1) * 500L)
          .otherwise(lit(MqNow) - (col("h") % 7) * 100L).as("due_at_ms"),
        (col("h") % 6).as("attempts"))
      val ks = base.select("k").distinct()
      val lifecycle = ks.select(
        concat(lit("g"), col("k").cast("string")).as("graph_iri"),
        (col("k") % 5 =!= 2).as("deleted"))
      val store = ks.select(
        concat(lit("g"), col("k").cast("string")).as("graph_iri"),
        (col("k") % 7 =!= 3).as("prune_ok"))
      GraphPrune.drain(jobs, lifecycle, store, nowMs = MqNow)
        .orderBy("graph_iri")
    }
  )

  /** Materialization-queue fixtures (mz1/mz2): ≤384 (doc, event) jobs with
    * deterministic due/attempt/failure spreads, a per-document status mix
    * (pending/materialized/failed at varying events), ~5% missing create
    * events, one deleted graph in nine, and a sprinkling of pre-existing
    * dead letters — enough collisions to hit every ladder arm. */
  private val MqNow = 1000000L

  private def mqBase(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d).select(
      (col("o_orderkey") % 64).cast("long").as("doc_id"),
      expr("CAST((o_orderkey div 64) % 6 AS BIGINT)").as("event_id"))
      .distinct()

  private def mqJobs(s: SparkSession, d: String): DataFrame =
    mqBase(s, d)
      .withColumn("h", col("doc_id") * 7 + col("event_id") * 3)
      .select(col("doc_id"), col("event_id"),
        when(col("h") % 5 === 4, lit(MqNow) + (col("h") % 7 + 1) * 1000L)
          .otherwise(lit(MqNow) - (col("h") % 11) * 1000L).as("due_at_ms"),
        (col("h") % 4).as("attempts"),
        when(col("h") % 13 === 0, 9L).when(col("h") % 13 === 1, 10L)
          .otherwise(col("h") % 3).as("failures"),
        when(col("h") % 17 === 2, 2L).otherwise(0L).as("parks"))

  private def mqEvents(s: SparkSession, d: String): DataFrame =
    mqBase(s, d)
      .filter((col("doc_id") * 5 + col("event_id")) % 19 =!= 0)
      .select(col("doc_id"), col("event_id"),
        concat(lit("g"), (col("doc_id") % 40).cast("string")).as("graph_iri"),
        concat(lit("p"),
          ((col("doc_id") + col("event_id")) % 5).cast("string")).as("peers"),
        when((col("doc_id") + col("event_id") * 2) % 9 === 0, "terminal")
          .when((col("doc_id") + col("event_id") * 2) % 9 === 1, "transient")
          .when(((col("doc_id") + col("event_id") * 2) % 9).isin(2L, 3L),
            "application")
          .otherwise("ok").as("apply_outcome"))

  private def mqStatus(s: SparkSession, d: String): DataFrame =
    mqBase(s, d).select("doc_id").distinct()
      .filter(col("doc_id") % 4 =!= 3)
      .select(col("doc_id"), (col("doc_id") % 6).as("event_id"),
        (col("doc_id") % 5).as("attempts"),
        when(col("doc_id") % 3 === 0, "pending")
          .when(col("doc_id") % 3 === 1, "materialized")
          .otherwise("failed").as("state"))

  private def mqLifecycle(s: SparkSession, d: String): DataFrame =
    mqBase(s, d).select((col("doc_id") % 40).as("g")).distinct()
      .select(concat(lit("g"), col("g").cast("string")).as("graph_iri"),
        (col("g") % 9 === 3).as("deleted"))

  private def mqDeadLetters(s: SparkSession, d: String): DataFrame =
    mqBase(s, d).select("doc_id").distinct()
      .filter(col("doc_id") % 16 === 5)
      .select(col("doc_id"), ((col("doc_id") + 1) % 6).as("event_id"),
        lit(2L).as("parks"))

  private def mz2DeadLetters(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d).select(
      (col("o_orderkey") % 48).cast("long").as("doc_id"),
      expr("CAST((o_orderkey div 48) % 4 AS BIGINT)").as("event_id"))
      .distinct()
      .select(col("doc_id"), col("event_id"),
        ((col("doc_id") + col("event_id")) % 3 + 1).as("parks"),
        when((col("doc_id") * 3 + col("event_id")) % 7 === 0,
          lit(MqNow) + 5000L).otherwise(lit(MqNow) - 5000L)
          .as("requeue_at_ms"))

  /** DuckDB mirror of the mz1/mz2 fixtures. */
  private val mqCtes =
    """mqb AS (SELECT DISTINCT CAST(o_orderkey % 64 AS BIGINT) AS doc_id,
      |               CAST((o_orderkey // 64) % 6 AS BIGINT) AS event_id
      |        FROM orders),
      |mqjobs AS (
      |  SELECT doc_id, event_id,
      |    CASE WHEN h%5=4 THEN 1000000 + (h%7+1)*1000
      |         ELSE 1000000 - (h%11)*1000 END AS due_at_ms,
      |    h%4 AS attempts,
      |    CASE WHEN h%13=0 THEN 9 WHEN h%13=1 THEN 10 ELSE h%3 END AS failures,
      |    CASE WHEN h%17=2 THEN 2 ELSE 0 END AS parks
      |  FROM (SELECT doc_id, event_id, doc_id*7 + event_id*3 AS h FROM mqb)),
      |mqev AS (
      |  SELECT doc_id, event_id, 'g'||(doc_id%40) AS graph_iri,
      |    CASE (doc_id + event_id*2) % 9 WHEN 0 THEN 'terminal'
      |         WHEN 1 THEN 'transient' WHEN 2 THEN 'application'
      |         WHEN 3 THEN 'application' ELSE 'ok' END AS apply_outcome
      |  FROM mqb WHERE (doc_id*5 + event_id) % 19 <> 0),
      |mqst AS (
      |  SELECT doc_id, doc_id%6 AS st_event, doc_id%5 AS st_attempts,
      |    CASE doc_id%3 WHEN 0 THEN 'pending' WHEN 1 THEN 'materialized'
      |         ELSE 'failed' END AS st_state
      |  FROM (SELECT DISTINCT doc_id FROM mqb) WHERE doc_id%4 <> 3),
      |mqlc AS (
      |  SELECT 'g'||g AS graph_iri, g%9 = 3 AS deleted
      |  FROM (SELECT DISTINCT doc_id%40 AS g FROM mqb)),
      |mqdl AS (
      |  SELECT doc_id, (doc_id+1)%6 AS event_id, 2 AS parks
      |  FROM (SELECT DISTINCT doc_id FROM mqb) WHERE doc_id%16 = 5)"""
      .stripMargin

  /** DuckDB mirror of bandPoolsFixture + the recursive validity fold
    * (bp1/bp2/bp3). Oracles using it must start WITH RECURSIVE. */
  private val bandPoolsCte =
    """bpdef(idx, parent, issuer, owner, sb, eb) AS (VALUES
      |  (0, NULL, 'a','a', 0, 1023), (1, 'p0','a','b', 100, 300),
      |  (2, 'p1','b','c', 150, 200), (3, 'p0','a','d', 250, 350),
      |  (4, 'p0','x','x', 400, 450), (5, 'p99','a','e', 500, 550),
      |  (6, NULL,'f','f', 0, 1), (7, 'p8','g','g', 600, 650),
      |  (8, 'p7','g','g', 600, 650), (9, NULL,'h','i', 700, 750),
      |  (10,'p1','b','j', 250, 350), (11,NULL,'k','k', 900, 950)),
      |bpb AS (SELECT DISTINCT o % 131 AS sc_id,
      |          CAST((o//131) % 12 AS INT) AS idx
      |        FROM (SELECT CAST(o_orderkey AS BIGINT) AS o FROM orders
      |              WHERE o_orderkey % 11 = 7)),
      |bp0 AS (SELECT * FROM bpb
      |        UNION ALL
      |        SELECT * FROM bpb WHERE sc_id % 13 = 3 AND idx = 0),
      |bp AS (SELECT sc_id, 'p'||idx AS pool_id, d.parent, d.issuer,
      |         d.owner,
      |         CASE WHEN idx=6 THEN 0 ELSE sb*1024+3 END AS start,
      |         eb*1024+3 AS "end"
      |       FROM bp0 JOIN bpdef d USING (idx)),
      |bdup AS (SELECT sc_id, pool_id FROM bp
      |         GROUP BY 1, 2 HAVING COUNT(*) > 1),
      |bwf AS (SELECT DISTINCT bp.*,
      |          (start >= 3 AND start < "end" AND "end" <= 1048576) AS wf
      |        FROM bp),
      |bvalid(sc_id, pool_id) AS (
      |  SELECT w.sc_id, w.pool_id FROM bwf w
      |  LEFT JOIN bdup dd ON dd.sc_id=w.sc_id AND dd.pool_id=w.pool_id
      |  WHERE w.wf AND w.parent IS NULL AND w.issuer = w.owner
      |    AND dd.pool_id IS NULL
      |  UNION
      |  SELECT c.sc_id, c.pool_id
      |  FROM bwf c
      |  JOIN bwf p ON p.sc_id = c.sc_id AND p.pool_id = c.parent
      |  JOIN bvalid v ON v.sc_id = p.sc_id AND v.pool_id = p.pool_id
      |  LEFT JOIN bdup dc ON dc.sc_id=c.sc_id AND dc.pool_id=c.pool_id
      |  WHERE c.wf AND p.owner = c.issuer
      |    AND p.start <= c.start AND c."end" <= p."end"
      |    AND dc.pool_id IS NULL)""".stripMargin

  /** DuckDB mirror of handleRangesFixture + the directory fold (hd1/hd2). */
  private val handleRangesCte =
    """hro AS (SELECT CAST(o_orderkey AS BIGINT) AS o FROM orders
      |        WHERE o_orderkey % 11 = 5),
      |hr AS (
      |  SELECT DISTINCT * FROM (
      |    SELECT o % 199 AS sc_id,
      |      'r'||((o//199) % 17) AS range_id,
      |      'n'||(o % 3) AS owner,
      |      (o//3) % 24 * 512 + 3 AS start,
      |      (o//3) % 24 * 512 + 259 + (o % 3) * 256 AS "end"
      |    FROM hro
      |    UNION ALL
      |    SELECT o % 199, 'r'||((o//199) % 17), 'n'||((o+1) % 3),
      |      (o//3) % 24 * 512 + 131, (o//3) % 24 * 512 + 387
      |    FROM hro WHERE o % 13 = 5) u),
      |hdv AS (SELECT sc_id, range_id, COUNT(*) AS n_values
      |        FROM hr GROUP BY 1, 2),
      |hov AS (SELECT DISTINCT a.sc_id, a.range_id
      |        FROM hr a JOIN hr b ON a.sc_id = b.sc_id
      |          AND a.range_id <> b.range_id
      |          AND a.start < b."end" AND b.start < a."end"),
      |hm AS (
      |  SELECT hr.*, hdv.n_values,
      |    (hdv.n_values > 1 OR hov.range_id IS NOT NULL) AS conflicted
      |  FROM hr
      |  JOIN hdv ON hdv.sc_id = hr.sc_id AND hdv.range_id = hr.range_id
      |  LEFT JOIN hov ON hov.sc_id = hr.sc_id
      |    AND hov.range_id = hr.range_id)""".stripMargin

  private val ctes =
    s"${ObjectTables.objectsCte},\n${ObjectTables.blobsCte},\n${ObjectTables.bucketsCte},\n" +
      s"heads AS (\n${ObjectTables.headsSql}\n)"

  val oracles: Map[String, String] = Map(
    "cat1_list_v2_prefixes" ->
      s"""WITH $ctes,
         |f AS (SELECT key, size FROM heads WHERE bucket='bkt-1' AND key LIKE 'data/A/%'),
         |cp AS (SELECT CASE WHEN strpos(substr(key, 8), '/') > 0
         |                   THEN 'data/A/'||substr(substr(key, 8), 1, strpos(substr(key, 8), '/')) END AS cp,
         |              key, size FROM f)
         |SELECT kind, name, size FROM (
         |  SELECT DISTINCT 'CommonPrefix' AS kind, cp AS name, CAST(NULL AS BIGINT) AS size
         |  FROM cp WHERE cp IS NOT NULL
         |  UNION ALL
         |  SELECT 'Object' AS kind, key AS name, size FROM cp WHERE cp IS NULL
         |) t ORDER BY name LIMIT 1000""".stripMargin,

    "cat2_list_v2_page" ->
      s"""WITH $ctes
         |SELECT 'Object' AS kind, key AS name, size FROM heads
         |WHERE bucket='bkt-1' AND key LIKE 'data/A/f1/%' AND key > 'data/A/f1/o250.bin'
         |  AND strpos(substr(key, 11), '/') = 0
         |ORDER BY name LIMIT 10""".stripMargin,

    "cat3_list_versions" ->
      s"""WITH ${ObjectTables.objectsCte}
         |SELECT CASE WHEN is_delete_marker THEN 'DeleteMarker' ELSE 'Version' END AS kind,
         |       key, version_ulid,
         |       ROW_NUMBER() OVER (PARTITION BY bucket, key ORDER BY version_ord DESC, hash DESC) = 1 AS is_latest,
         |       size
         |FROM objects
         |WHERE bucket='bkt-2' AND key LIKE 'data/R/f3/%'
         |ORDER BY key, version_ulid DESC, size LIMIT 100""".stripMargin,

    "cat4_bucket_search" ->
      s"""WITH ${ObjectTables.objectsCte}
         |SELECT DISTINCT bucket FROM objects
         |WHERE contains(lower(bucket), 't') AND bucket NOT LIKE 'ws-%'
         |ORDER BY bucket""".stripMargin,

    "cat5_iri_backlinks" ->
      s"""WITH ${RdfTables.quadsCte}
         |SELECT predicate AS predicate_iri, obj_value AS object_iri, graph_iri,
         |       string_agg(DISTINCT subject, ',') AS subjects
         |FROM quads WHERE obj_kind = 0 AND predicate = '$ConformsTo'
         |GROUP BY 1, 2, 3
         |ORDER BY object_iri, graph_iri""".stripMargin,

    "cat6_references" ->
      """SELECT CAST(doc_id AS VARCHAR) AS document_id, 'graph:'||doc_id AS graph_iri,
        |       '/'||source||'/doc-'||doc_id AS document_path,
        |       'doc:'||doc_id AS subjects
        |FROM documents
        |WHERE doc_id%4=2 AND doc_id%97<>0
        |ORDER BY document_id""".stripMargin,

    "cat7_usage_rebuild" ->
      s"""WITH $ctes,
         |live AS (
         |  SELECT h.bucket, h.size, b.backend, bk.group_id
         |  FROM heads h
         |  JOIN blobs b ON h.hash = b.blake3 AND NOT b.staging AND NOT b.partial
         |  JOIN buckets bk USING (bucket))
         |SELECT scope, key, buckets, stored_blobs, stored_bytes FROM (
         |  SELECT 'group' AS scope, group_id AS key, COUNT(DISTINCT bucket) AS buckets,
         |         COUNT(*) AS stored_blobs, CAST(SUM(size) AS BIGINT) AS stored_bytes
         |  FROM live GROUP BY 2
         |  UNION ALL
         |  SELECT 'backend', backend, COUNT(DISTINCT bucket), COUNT(*), CAST(SUM(size) AS BIGINT)
         |  FROM live GROUP BY 2
         |  UNION ALL
         |  SELECT 'global', 'all', COUNT(DISTINCT bucket), COUNT(*), CAST(SUM(size) AS BIGINT)
         |  FROM live
         |) t ORDER BY scope, key""".stripMargin,

    "cat8_usage_delta" ->
      s"""WITH ${ObjectTables.objectsCte},
         |${ObjectTables.blobsCte},
         |${ObjectTables.bucketsCte},
         |obj AS (
         |  SELECT o.*, bk.group_id FROM objects o
         |  JOIN blobs b ON o.hash = b.blake3 AND NOT b.staging AND NOT b.partial
         |  JOIN buckets bk USING (bucket)
         |  WHERE NOT o.is_delete_marker)
         |SELECT group_id, COUNT(*) AS stored_blobs, CAST(SUM(size) AS BIGINT) AS stored_bytes
         |FROM obj GROUP BY group_id ORDER BY group_id""".stripMargin,

    "us1_name_search" ->
      """SELECT c_name AS name FROM customer
        |WHERE contains(lower(c_name), '00012')
        |ORDER BY c_name LIMIT 100""".stripMargin,

    "us2_unified" -> UnifiedSearch.oracleSql,

    "cat9_list_parts" ->
      s"""WITH ${ObjectTables.uploadsCte}, ${ObjectTables.partsCte},
         |up AS (SELECT upload_id, bucket, key FROM uploads
         |       WHERE upload_id='000000000020' AND status='Open'),
         |base AS (SELECT u.bucket, u.key, p.part_number, p.size, p.hash
         |         FROM parts p JOIN up u USING (upload_id)),
         |p1b AS (SELECT * FROM base ORDER BY part_number LIMIT 3),
         |p1n AS (SELECT COUNT(*) AS t FROM base),
         |p2base AS (SELECT * FROM base WHERE part_number > 10),
         |p2b AS (SELECT * FROM p2base ORDER BY part_number LIMIT 3),
         |p2n AS (SELECT COUNT(*) AS t FROM p2base)
         |SELECT * FROM (
         |  SELECT b.*, n.t > 3 AS is_truncated,
         |         CASE WHEN n.t > 3 THEN (SELECT MAX(part_number) FROM p1b) END
         |           AS next_part_number_marker,
         |         'p1' AS page
         |  FROM p1b b, p1n n
         |  UNION ALL
         |  SELECT b.*, n.t > 3,
         |         CASE WHEN n.t > 3 THEN (SELECT MAX(part_number) FROM p2b) END,
         |         'p2'
         |  FROM p2b b, p2n n
         |) ORDER BY page, part_number""".stripMargin,

    "cat10_list_uploads" ->
      s"""WITH ${ObjectTables.uploadsCte}
         |SELECT * FROM (
         |  SELECT DISTINCT 'CommonPrefix' AS kind,
         |         'mp/'||substr(substr(key, 4), 1, strpos(substr(key, 4), '/')) AS name,
         |         CAST(NULL AS VARCHAR) AS upload_id, 'a' AS sect
         |  FROM uploads
         |  WHERE bucket='bkt-1' AND status='Open' AND key LIKE 'mp/%'
         |    AND strpos(substr(key, 4), '/') > 0
         |  ORDER BY name LIMIT 8
         |) UNION ALL
         |SELECT * FROM (
         |  SELECT 'Upload' AS kind, key AS name, upload_id, 'b' AS sect
         |  FROM uploads
         |  WHERE bucket='bkt-1' AND status='Open' AND key LIKE 'mp/d3/%'
         |    AND (key > 'mp/d3/u150.bin'
         |         OR (key = 'mp/d3/u150.bin' AND upload_id > '000000000300'))
         |  ORDER BY name, upload_id LIMIT 10
         |) ORDER BY sect, name, upload_id""".stripMargin,

    "cat11_list_buckets" -> {
      def page(label: String, where: String, max: Long): String =
        s"""${label}b AS (SELECT * FROM bl $where ORDER BY bucket LIMIT $max),
           |${label}n AS (SELECT COUNT(*) AS t FROM bl $where),
           |$label AS (SELECT q.bucket, q.group_id, n.t > $max AS is_truncated,
           |         CASE WHEN n.t > $max
           |              THEN (SELECT MAX(bucket) FROM ${label}b) END
           |           AS continuation_token,
           |         '$label' AS page
           |       FROM ${label}b q, ${label}n n)""".stripMargin
      s"""WITH ${ObjectTables.bucketsLargeCte},
         |bl AS (SELECT * FROM buckets_large WHERE group_id='grp-2'),
         |${page("p1", "", 25)},
         |${page("p2", "WHERE bucket > 'cb-00000055'", 25)},
         |${page("p3", "WHERE bucket LIKE 'cb-000001%'", 10000)}
         |SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
         |ORDER BY page, bucket""".stripMargin
    },

    "cat12_complete_multipart" ->
      s"""WITH ${ObjectTables.uploadsCte}, ${ObjectTables.partsCte},
         |up AS (SELECT upload_id FROM uploads
         |       WHERE CAST(upload_id AS BIGINT)%11=0 AND status='Open'),
         |pt AS (SELECT * FROM parts WHERE CAST(upload_id AS BIGINT)%11=0),
         |pv AS (SELECT *, CAST(upload_id AS BIGINT)%5 AS v,
         |         MIN(part_number) OVER (PARTITION BY upload_id) AS min_pn,
         |         CAST(SUM(size) OVER (PARTITION BY upload_id) AS BIGINT) AS sum_sz
         |       FROM pt),
         |req AS (
         |  SELECT upload_id,
         |         CAST(CASE WHEN v=2 THEN -part_number ELSE part_number END AS INT) AS seq,
         |         part_number,
         |         CASE WHEN v=3 AND part_number=min_pn THEN 'deadbeef' ELSE hash END AS etag,
         |         CASE WHEN v=4 THEN sum_sz+1 END AS declared_size
         |  FROM pv
         |  UNION ALL
         |  SELECT DISTINCT upload_id, CAST(99 AS INT), CAST(99 AS INT), NULL, NULL
         |  FROM pv WHERE v=1),
         |j AS (SELECT r.*, p.size AS p_size, p.hash AS p_hash
         |      FROM req r
         |      JOIN up u USING (upload_id)
         |      LEFT JOIN pt p USING (upload_id, part_number)),
         |f AS (SELECT *,
         |        LAG(part_number) OVER (PARTITION BY upload_id ORDER BY seq) AS prev_pn,
         |        MAX(seq) OVER (PARTITION BY upload_id) AS max_seq
         |      FROM j),
         |g AS (SELECT *,
         |        CASE WHEN prev_pn IS NOT NULL AND part_number <= prev_pn
         |               THEN 'InvalidPartOrder'
         |             WHEN p_size IS NULL THEN 'InvalidPart'
         |             WHEN etag IS NOT NULL AND etag <> p_hash
         |               THEN 'PartEtagMismatch' END AS code,
         |        (seq < max_seq AND p_size < ${Multipart.MinPartSize}) AS too_small
         |      FROM f),
         |a AS (SELECT upload_id,
         |        arg_min(code, seq) FILTER (WHERE code IS NOT NULL) AS fail_code,
         |        bool_or(too_small) AS any_small,
         |        CAST(SUM(p_size) AS BIGINT) AS sum_size,
         |        any_value(declared_size) AS declared,
         |        COUNT(*) AS n_req
         |      FROM g GROUP BY 1),
         |v AS (SELECT upload_id,
         |        COALESCE(fail_code,
         |                 CASE WHEN any_small THEN 'EntityTooSmall' END,
         |                 CASE WHEN declared IS NOT NULL AND declared <> sum_size
         |                      THEN 'InvalidObjectSize' END,
         |                 'OK') AS verdict,
         |        sum_size, n_req
         |      FROM a)
         |SELECT upload_id, verdict,
         |       CASE WHEN verdict='OK' THEN sum_size END AS object_size,
         |       CASE WHEN verdict='OK' THEN n_req END AS n_parts
         |FROM v ORDER BY upload_id""".stripMargin,

    "cat17_abort_multipart" ->
      s"""WITH ${ObjectTables.uploadsCte}, ${ObjectTables.partsCte},
         |req AS (
         |  SELECT CASE WHEN v=3 THEN 'ZZ'||substring(upload_id,3,10)
         |              ELSE upload_id END AS upload_id,
         |         CASE WHEN v=2 THEN bucket||'-x' ELSE bucket END AS bucket,
         |         CASE WHEN v=1 THEN key||'.wrong' ELSE key END AS key
         |  FROM (SELECT *, (CAST(upload_id AS BIGINT)//13)%4 AS v
         |        FROM uploads WHERE CAST(upload_id AS BIGINT)%13=0)),
         |pa AS (SELECT upload_id, CAST(COUNT(*) AS BIGINT) AS np,
         |         CAST(SUM(size) AS BIGINT) AS pbytes
         |       FROM parts GROUP BY 1),
         |j AS (SELECT r.upload_id,
         |        CASE WHEN u.bucket IS NULL THEN 'NoSuchUpload'
         |             WHEN u.bucket<>r.bucket OR u.key<>r.key
         |               THEN 'UploadTargetMismatch'
         |             WHEN u.status<>'Open' THEN 'UploadNotOpen'
         |             ELSE 'Ok' END AS verdict,
         |        CAST(least(COALESCE(pa.np, 0), ${Multipart.AbortPartScanLimit})
         |          AS BIGINT) AS ok_np,
         |        CAST(COALESCE(pa.pbytes, 0) AS BIGINT) AS pbytes
         |      FROM req r
         |      LEFT JOIN uploads u USING (upload_id)
         |      LEFT JOIN pa USING (upload_id))
         |SELECT upload_id, verdict,
         |       CASE WHEN verdict='Ok' THEN ok_np END AS n_parts,
         |       CASE WHEN verdict='Ok' THEN ok_np+1 END AS n_records_deleted,
         |       CASE WHEN verdict='Ok' THEN pbytes END AS bytes_freed
         |FROM j ORDER BY upload_id""".stripMargin,

    "cb1_create_bucket" ->
      s"""WITH ${ObjectTables.bucketsCte},
         |req AS (
         |  SELECT c_custkey AS seq,
         |    CASE WHEN y=0 THEN 'bkt-'||(c_custkey%4)
         |         WHEN y=1 OR y=3 THEN 'nb-'||(c_custkey%11)
         |         WHEN y=2 THEN 'nb-u'||c_custkey
         |         ELSE 'ws-new-'||(c_custkey%3) END AS bucket,
         |    'grp-'||(c_custkey%7) AS group_id
         |  FROM (SELECT *, (c_custkey//23)%5 AS y FROM customer
         |        WHERE c_custkey%23=0)),
         |v AS (
         |  SELECT r.seq, r.bucket, r.group_id,
         |    b.bucket IS NOT NULL AS in_cat,
         |    ROW_NUMBER() OVER (PARTITION BY r.bucket ORDER BY r.seq) AS nth
         |  FROM req r LEFT JOIN buckets b USING (bucket)),
         |v2 AS (
         |  SELECT seq, bucket, group_id,
         |    CASE WHEN in_cat OR nth>1 THEN 'BucketAlreadyExists'
         |         ELSE 'OK' END AS verdict
         |  FROM v)
         |SELECT seq, bucket, group_id, verdict,
         |  CAST(SUM(CASE WHEN verdict='OK' THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY group_id) AS BIGINT) AS group_buckets_delta
         |FROM v2 ORDER BY seq""".stripMargin,

    "cmu1_create_multipart" ->
      s"""WITH req AS (
         |  SELECT 'mu'||o_orderkey AS req_id,
         |    CASE WHEN m=4 THEN ''
         |         WHEN m=5 THEN '/abs/k'||o_orderkey
         |         WHEN m=6 THEN 'a/../k'||o_orderkey
         |         WHEN m=7 THEN './.'
         |         ELSE 'mp/k'||o_orderkey||'.bin' END AS key,
         |    m=1 AS sse, m=2 AS sse_kms, m=3 AS sse_customer,
         |    CASE WHEN m=8 THEN 'MD5' WHEN m=9 THEN 'SHA256'
         |         WHEN m=11 THEN 'CRC32C' END AS alg,
         |    CASE WHEN m=9 THEN 'FULL_OBJECT'
         |         WHEN m=10 OR m=11 THEN 'COMPOSITE' END AS ctype,
         |    o_orderkey%2=0 AS has_bucket_info,
         |    'bg-'||(o_orderkey%5) AS bucket_group,
         |    'ug-'||(o_orderkey%3) AS user_group
         |  FROM (SELECT *, (o_orderkey//43)%12 AS m FROM orders
         |        WHERE o_orderkey%43=0)),
         |v AS (
         |  SELECT *,
         |    CASE WHEN sse OR sse_kms OR sse_customer THEN 'SseNotSupported'
         |         WHEN length(key)=0 THEN 'EmptyKey'
         |         WHEN NOT (NOT starts_with(key,'/')
         |               AND NOT regexp_matches(key, '[\\x00-\\x1f\\x7f\\x80-\\x9f]')
         |               AND NOT contains('/'||key||'/', '/../')
         |               AND regexp_matches(key, '(^|/)(\\.[^/]+|[^/.][^/]*)(/|${"$"})'))
         |           THEN 'UnconfinedKey'
         |         WHEN alg IS NOT NULL AND alg NOT IN
         |             ('CRC32','CRC32C','CRC64NVME','SHA1','SHA256')
         |           THEN 'UnsupportedChecksum'
         |         ELSE 'Ok' END AS verdict
         |  FROM req)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' AND (alg IS NOT NULL OR ctype IS NOT NULL)
         |       THEN alg END AS hint_algorithm,
         |  CASE WHEN verdict='Ok' AND (alg IS NOT NULL OR ctype IS NOT NULL)
         |       THEN CASE WHEN ctype='COMPOSITE' THEN 'Composite'
         |                 ELSE 'FullObject' END END AS hint_checksum_type,
         |  CASE WHEN verdict='Ok'
         |       THEN CASE WHEN has_bucket_info THEN bucket_group
         |                 ELSE user_group END END AS group_id,
         |  CASE WHEN verdict='Ok' THEN 'Open' END AS status
         |FROM v ORDER BY req_id""".stripMargin,

    "rm1_realm_doc_count" ->
      s"""WITH ${graft.sparql.RdfTables.registryCte}, ${Directory.lifecycleCte},
         |reg AS (SELECT *,
         |    'realm-'||(CAST(document_id AS BIGINT)%4) AS realm_id
         |  FROM registry),
         |del AS (SELECT DISTINCT graph_iri FROM lifecycle
         |        WHERE status='Deleted'),
         |counts AS (
         |  SELECT realm_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM reg r
         |  WHERE NOT EXISTS (SELECT 1 FROM del d
         |                    WHERE d.graph_iri = r.graph_iri)
         |  GROUP BY 1),
         |req AS (SELECT 'realm-'||r AS realm_id, r%5<>4 AS has_metadata
         |        FROM range(0,6) t(r))
         |SELECT q.realm_id,
         |       CASE WHEN has_metadata THEN COALESCE(n, 0) END AS n_documents
         |FROM req q LEFT JOIN counts c USING (realm_id)
         |ORDER BY realm_id""".stripMargin,

    "bi1_bucket_info" ->
      s"""WITH ${ObjectTables.bucketsCte}, ${ReplicationTables.bucketTargetsCte},
         |req AS (
         |  SELECT CAST(r AS INT) AS req_seq,
         |    CASE WHEN r<4 THEN 'bkt-'||r WHEN r=4 THEN 'bkt-9'
         |         WHEN r=5 THEN 'ws-tmp-0' WHEN r=6 THEN 'nb-x'
         |         ELSE 'bkt-2' END AS bucket
         |  FROM range(0,8) t(r)),
         |rep AS (
         |  SELECT cfg_bucket AS bucket,
         |    CAST(COUNT(DISTINCT (target_node, cfg_target_bucket)) AS BIGINT)
         |      AS n_rep
         |  FROM cfg GROUP BY 1)
         |SELECT q.req_seq, q.bucket,
         |  CASE WHEN b.group_id IS NULL THEN 'NotFound' ELSE 'Found' END
         |    AS verdict,
         |  b.group_id,
         |  CASE WHEN b.group_id IS NOT NULL THEN COALESCE(rep.n_rep, 0) END
         |    AS n_replication_targets
         |FROM req q
         |LEFT JOIN buckets b USING (bucket)
         |LEFT JOIN rep USING (bucket)
         |ORDER BY req_seq""".stripMargin,

    "po1_put_object" ->
      s"""WITH RECURSIVE ${ObjectTables.objectsCte},
         |${ObjectTables.versionsCte},
         |${ObjectTables.blobsCte},
         |${ObjectTables.bucketsCte},
         |reqs AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |    o_orderkey%13 AS cls,
         |    CASE WHEN o_orderkey%13=5 THEN 'bkt-9'
         |         ELSE 'bkt-'||(o_custkey%4) END AS bucket,
         |    CASE WHEN o_orderkey%13=6 THEN 'grp-9'
         |         ELSE 'grp-'||((o_custkey%4)%3) END AS requester_group,
         |    CASE WHEN o_orderkey%3=0 THEN 'data/'||
         |           (CASE WHEN o_custkey%3=0 THEN 'R'
         |                 WHEN o_custkey%3=1 THEN 'A' ELSE 'N' END)||
         |           '/f'||(o_orderkey%40)||'/o'||(o_orderkey%500)||'.bin'
         |         ELSE 'put/o'||o_orderkey||'.bin' END AS key,
         |    o_orderkey%13 <> 0 AS has_body,
         |    CAST(CASE WHEN o_orderkey%13=7 THEN 0
         |              ELSE (o_orderkey%100)*1000+17 END AS BIGINT) AS size,
         |    md5(CAST(o_orderkey%149 AS VARCHAR)) AS blake3,
         |    CASE WHEN o_orderkey%2=0 THEN 'fs' ELSE 's3' END AS backend
         |  FROM orders WHERE o_orderkey%29 = 3),
         |r2 AS (
         |  SELECT *,
         |    CASE WHEN cls=1 THEN size+1
         |         WHEN cls=8 THEN NULL ELSE size END AS content_length,
         |    CASE WHEN cls=2 THEN 'CRC64NVME'
         |         WHEN cls IN (3,4,9) THEN 'SHA256' END AS exp1_algo,
         |    CASE WHEN cls=2 THEN 'x' WHEN cls=3 THEN 'deadbeef'
         |         WHEN cls IN (4,9) THEN md5('s:'||blake3) END AS exp1_digest,
         |    CASE WHEN cls=4 THEN 'CRC32' END AS exp2_algo,
         |    CASE WHEN cls=4 THEN 'deadbeef' END AS exp2_digest
         |  FROM reqs),
         |heads AS (
         |  SELECT v.bucket, v.key, COUNT(*) AS vcount,
         |         arg_max(v.is_delete_marker, v.version_ord) AS head_dm
         |  FROM versions v
         |  JOIN (SELECT DISTINCT bucket, key FROM r2) p
         |    ON v.bucket=p.bucket AND v.key=p.key
         |  GROUP BY 1, 2),
         |pre0 AS (
         |  SELECT r.*, b.group_id AS cat_group, h.vcount, h.head_dm,
         |         (bl.blake3 IS NOT NULL) AS dedup_hit
         |  FROM r2 r
         |  LEFT JOIN buckets b ON r.bucket = b.bucket
         |  LEFT JOIN heads h ON r.bucket = h.bucket AND r.key = h.key
         |  LEFT JOIN blobs bl ON r.blake3 = bl.blake3 AND r.backend = bl.backend),
         |pre1 AS (
         |  SELECT *,
         |    CASE WHEN NOT has_body THEN 'MissingBody'
         |      WHEN content_length IS NOT NULL AND content_length <> size
         |        THEN 'IncompleteBody'
         |      WHEN exp1_algo IS NOT NULL AND exp1_algo NOT IN ('SHA256','CRC32')
         |        THEN 'MissingExpectedChecksum:'||exp1_algo
         |      WHEN exp1_algo='SHA256' AND exp1_digest <> md5('s:'||blake3)
         |        THEN 'ChecksumMismatch:SHA256'
         |      WHEN exp1_algo='CRC32' AND exp1_digest <> md5('c:'||blake3)
         |        THEN 'ChecksumMismatch:CRC32'
         |      WHEN exp2_algo IS NOT NULL AND exp2_algo NOT IN ('SHA256','CRC32')
         |        THEN 'MissingExpectedChecksum:'||exp2_algo
         |      WHEN exp2_algo='SHA256' AND exp2_digest <> md5('s:'||blake3)
         |        THEN 'ChecksumMismatch:SHA256'
         |      WHEN exp2_algo='CRC32' AND exp2_digest <> md5('c:'||blake3)
         |        THEN 'ChecksumMismatch:CRC32'
         |      WHEN cat_group IS NULL OR cat_group <> requester_group
         |        THEN 'TransactionConflict'
         |      ELSE 'Ok' END AS verdict0,
         |    COALESCE(cat_group, 'none') AS grp
         |  FROM pre0),
         |ovr(group_id, quota_bytes, grace) AS (
         |  VALUES ('grp-1', 5000000, 100), ('grp-2', NULL, NULL)),
         |gc AS (
         |  SELECT g.group_id,
         |    CASE WHEN o.group_id IS NOT NULL
         |         THEN CAST(o.quota_bytes * COALESCE(o.grace, 110) // 100 AS BIGINT)
         |         ELSE CAST(10000000 * 110 // 100 AS BIGINT) END AS ceiling
         |  FROM (SELECT DISTINCT group_id FROM buckets) g
         |  LEFT JOIN ovr o USING (group_id)),
         |ul(group_id, logical_bytes) AS (
         |  VALUES ('grp-0', 9500000), ('grp-1', 4200000), ('grp-2', 1000000)),
         |nu AS (
         |  SELECT 'grp-'||g AS group_id, 'nd-'||n AS key_node,
         |         CASE WHEN g=1 AND n=2 THEN 'nd-9' ELSE 'nd-'||n END
         |           AS embedded_node,
         |         CAST(100000*(n+1) AS BIGINT) AS logical_bytes
         |  FROM range(0,3) t1(g), range(0,5) t2(n)),
         |ub AS (
         |  SELECT u.group_id,
         |         CAST(u.logical_bytes + COALESCE(r.rb, 0) AS BIGINT)
         |           AS base_usage
         |  FROM ul u LEFT JOIN (
         |    SELECT group_id, SUM(logical_bytes) AS rb FROM nu
         |    WHERE key_node <> 'nd-0'
         |      AND key_node IN ('nd-0','nd-1','nd-2','nd-4')
         |      AND key_node = embedded_node
         |    GROUP BY 1) r USING (group_id)),
         |pre AS (
         |  SELECT p.*, c.ceiling, u.base_usage,
         |    (c.ceiling IS NOT NULL AND p.size > 0) AS gated,
         |    ROW_NUMBER() OVER (PARTITION BY p.grp ORDER BY p.req_id) AS gseq
         |  FROM pre1 p
         |  LEFT JOIN gc c ON p.grp = c.group_id
         |  LEFT JOIN ub u ON p.grp = u.group_id),
         |fold AS (
         |  SELECT grp, CAST(0 AS BIGINT) AS gseq, CAST(0 AS BIGINT) AS used
         |  FROM (SELECT DISTINCT grp FROM pre)
         |  UNION ALL
         |  SELECT p.grp, f.gseq + 1,
         |    f.used + CASE WHEN p.verdict0 = 'Ok'
         |      AND NOT (p.gated AND
         |               COALESCE(p.base_usage,0) + f.used + p.size > p.ceiling)
         |      THEN p.size ELSE 0 END
         |  FROM fold f JOIN pre p ON p.grp = f.grp AND p.gseq = f.gseq + 1),
         |fin AS (
         |  SELECT p.*, f.used,
         |    CASE WHEN p.verdict0 = 'Ok' AND p.gated AND
         |         COALESCE(p.base_usage,0) + f.used + p.size > p.ceiling
         |         THEN 'QuotaExceeded' ELSE p.verdict0 END AS vr
         |  FROM pre p JOIN fold f ON f.grp = p.grp AND f.gseq = p.gseq - 1)
         |SELECT req_id, vr AS verdict,
         |  CASE WHEN vr = 'Ok' THEN NOT dedup_hit END AS new_blob,
         |  CASE WHEN vr = 'Ok' THEN COALESCE(NOT head_dm, FALSE) END
         |    AS was_live,
         |  CASE WHEN vr = 'Ok' THEN CAST(COALESCE(vcount,0)+1 AS BIGINT) END
         |    AS generation,
         |  (vr = 'Ok' AND dedup_hit) AS dup_cleanup,
         |  (vr <> 'Ok' AND vr <> 'MissingBody') AS rollback_delete,
         |  CAST(CASE WHEN vr = 'Ok' AND NOT COALESCE(NOT head_dm, FALSE)
         |            THEN 1 ELSE 0 END AS BIGINT) AS d_objects,
         |  CAST(CASE WHEN vr = 'Ok' THEN size ELSE 0 END AS BIGINT)
         |    AS d_logical,
         |  CAST(CASE WHEN vr = 'Ok' AND NOT dedup_hit THEN 1 ELSE 0 END
         |       AS BIGINT) AS d_stored_blobs,
         |  CAST(CASE WHEN vr = 'Ok' AND NOT dedup_hit THEN size ELSE 0 END
         |       AS BIGINT) AS d_stored_bytes,
         |  CASE WHEN vr = 'QuotaExceeded' THEN ceiling END AS quota_limit,
         |  CASE WHEN vr = 'QuotaExceeded'
         |       THEN CAST(COALESCE(base_usage,0) + used + size AS BIGINT)
         |       END AS quota_projected
         |FROM fin ORDER BY req_id""".stripMargin,

    "cg1_create_group" ->
      s"""WITH owned AS (
         |  SELECT 'u'||(c_custkey%40) AS user_id,
         |         'og'||c_custkey AS group_id
         |  FROM customer),
         |caps AS (
         |  SELECT 'u'||r AS user_id,
         |         CAST(CASE WHEN r=2 THEN 0 WHEN r=3 THEN 2 END AS BIGINT)
         |           AS max_groups
         |  FROM range(1,4) t(r)),
         |cnts AS (SELECT user_id, COUNT(*) AS n_owned FROM owned
         |         GROUP BY 1),
         |reqs AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |    CASE o_orderkey%6 WHEN 0 THEN 'u1' WHEN 1 THEN 'u2'
         |         WHEN 2 THEN 'u3'
         |         WHEN 4 THEN 'unew'||o_orderkey
         |         ELSE 'u'||(o_orderkey%40) END AS user_id
         |  FROM orders WHERE o_orderkey%59 = 23),
         |j AS (
         |  SELECT r.req_id, r.user_id,
         |    CASE WHEN c.user_id IS NOT NULL THEN c.max_groups
         |         ELSE 3 END AS cap,
         |    COALESCE(n.n_owned, 0) AS n
         |  FROM reqs r
         |  LEFT JOIN caps c ON c.user_id = r.user_id
         |  LEFT JOIN cnts n ON n.user_id = r.user_id)
         |SELECT req_id, user_id,
         |  CASE WHEN cap IS NOT NULL AND n >= cap
         |       THEN 'OwnedGroupLimitReached' ELSE 'Ok' END AS verdict,
         |  CAST(cap AS BIGINT) AS limit,
         |  CAST(CASE WHEN cap IS NOT NULL THEN least(n, cap)
         |            ELSE n END AS BIGINT) AS owned_scanned
         |FROM j ORDER BY req_id""".stripMargin,

    "gmd1_get_document" ->
      s"""WITH reg AS (
         |  SELECT 'graph:'||doc_id AS graph_iri,
         |         CAST(doc_id AS VARCHAR) AS document_id,
         |         'grp-'||(doc_id%10) AS group_id,
         |         doc_id%2=0 AS public,
         |         lpad(CAST((doc_id*7)%100000 AS VARCHAR), 8, '0')
         |           AS last_event_id
         |  FROM documents),
         |lc AS (
         |  SELECT 'graph:'||doc_id AS graph_iri,
         |         CASE WHEN doc_id%97=0 THEN 'Deleted'
         |              ELSE 'Created' END AS status
         |  FROM documents WHERE doc_id%97=0 OR doc_id%89=0),
         |sts AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS document_id,
         |         lpad(CAST(CASE WHEN doc_id%5=1 THEN (doc_id*7+1)%100000
         |                        ELSE (doc_id*7)%100000 END AS VARCHAR),
         |              8, '0') AS status_event_id,
         |         CASE WHEN doc_id%11=4 THEN 'Pending'
         |              ELSE 'Materialized' END AS mat_state
         |  FROM documents WHERE doc_id%3 <> 2),
         |reqs AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |    CASE WHEN o_orderkey%5=0 THEN '999999'
         |         ELSE CAST(o_orderkey%490 AS VARCHAR) END AS document_id,
         |    CASE WHEN o_orderkey%5=1 THEN 'grp-x'
         |         ELSE 'grp-'||((o_orderkey%490)%10) END AS group_id
         |  FROM orders WHERE o_orderkey%61 = 31),
         |j AS (
         |  SELECT r.req_id, g.graph_iri, g.public, g.last_event_id,
         |         l.status, st.status_event_id, st.mat_state
         |  FROM reqs r
         |  LEFT JOIN reg g ON g.group_id = r.group_id
         |    AND g.document_id = r.document_id
         |  LEFT JOIN lc l ON l.graph_iri = g.graph_iri
         |  LEFT JOIN sts st ON st.document_id = g.document_id
         |    AND g.graph_iri IS NOT NULL),
         |v AS (
         |  SELECT *,
         |    status_event_id IS NOT NULL AND
         |      status_event_id = last_event_id AS cursor_match,
         |    CASE WHEN graph_iri IS NULL THEN 'DocumentNotFound'
         |         WHEN status = 'Deleted' THEN 'DocumentNotFound'
         |         WHEN status_event_id IS NOT NULL AND
         |              status_event_id = last_event_id AND
         |              mat_state <> 'Materialized' THEN 'GraphNotFound'
         |         ELSE 'Ok' END AS verdict
         |  FROM j)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN graph_iri END AS graph_iri,
         |  CASE WHEN verdict='Ok' THEN public END AS public,
         |  CASE WHEN verdict='Ok'
         |       THEN cursor_match AND mat_state = 'Materialized' END
         |    AS mat_proven
         |FROM v ORDER BY req_id""".stripMargin,

    "up1_upload_part" ->
      s"""WITH ${ObjectTables.uploadsCte}, ${ObjectTables.partsCte},
         |up AS (SELECT uploads.*,
         |         'be-'||(CAST(upload_id AS BIGINT)%3) AS backend
         |       FROM uploads),
         |req AS (
         |  SELECT 'up'||lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN m=0 THEN '999999999999'
         |         ELSE lpad(CAST(o_orderkey AS VARCHAR),12,'0') END
         |      AS upload_id,
         |    'bkt-'||(o_custkey%4) AS bucket,
         |    CASE WHEN m=1 THEN 'wrong/key.bin'
         |         ELSE 'mp/d'||(o_custkey%10)||'/u'||(o_orderkey%200)||'.bin'
         |         END AS key,
         |    CAST((o_orderkey%40)+1 AS INT) AS part_number,
         |    m<>3 AS has_body, m=4 AS stream_failed, m=5 AS blob_error,
         |    CASE WHEN m<=2 THEN NULL WHEN m=6 THEN sz+1 ELSE sz END
         |      AS content_length,
         |    sz AS size,
         |    CASE WHEN m=7 THEN 'CRC64NVME'
         |         WHEN m IN (8,9) THEN 'SHA256' END AS exp1_algo,
         |    CASE WHEN m=8 THEN 'deadbeef'
         |         WHEN m=9 THEN
         |           md5('s:up'||lpad(CAST(o_orderkey AS VARCHAR),12,'0'))
         |         END AS exp1_digest,
         |    CASE WHEN m=9 THEN 'CRC32' END AS exp2_algo,
         |    CASE WHEN m=9 THEN 'badc0de' END AS exp2_digest,
         |    CASE WHEN m=10 THEN 'Aborted'
         |         WHEN m=11 THEN 'Gone' END AS concurrent_status
         |  FROM (SELECT *, (o_orderkey//17)%13 AS m,
         |          CAST(((o_orderkey%1000)+1)*1024 AS BIGINT) AS sz
         |        FROM orders WHERE o_orderkey%17=0)),
         |j AS (
         |  SELECT r.*, u.bucket AS u_bucket, u.key AS u_key,
         |         u.status AS u_status, u.backend AS u_backend,
         |         p.size AS old_size, p.part_number IS NOT NULL AS part_exists,
         |         CASE WHEN r.exp1_algo='SHA256' THEN md5('s:'||r.req_id)
         |              WHEN r.exp1_algo='CRC32' THEN md5('c:'||r.req_id) END
         |           AS c1,
         |         CASE WHEN r.exp2_algo='SHA256' THEN md5('s:'||r.req_id)
         |              WHEN r.exp2_algo='CRC32' THEN md5('c:'||r.req_id) END
         |           AS c2
         |  FROM req r
         |  LEFT JOIN up u USING (upload_id)
         |  LEFT JOIN parts p USING (upload_id, part_number)),
         |v AS (
         |  SELECT *,
         |    u_bucket IS NULL OR u_bucket<>bucket OR u_key<>key OR
         |      u_status<>'Open' OR NOT has_body AS pre_write,
         |    CASE WHEN u_bucket IS NULL THEN 'NoSuchUpload'
         |         WHEN u_bucket<>bucket OR u_key<>key
         |           THEN 'UploadTargetMismatch'
         |         WHEN u_status<>'Open' THEN 'UploadNotOpen'
         |         WHEN NOT has_body THEN 'MissingBody'
         |         WHEN stream_failed THEN 'WriteFailed'
         |         WHEN blob_error THEN 'BlobWriteFailed'
         |         WHEN content_length IS NOT NULL AND content_length<>size
         |           THEN 'IncompleteBody'
         |         WHEN exp1_algo IS NOT NULL AND c1 IS NULL
         |           THEN 'MissingExpectedChecksum:'||exp1_algo
         |         WHEN exp1_algo IS NOT NULL AND c1<>exp1_digest
         |           THEN 'ChecksumMismatch:'||exp1_algo
         |         WHEN exp2_algo IS NOT NULL AND c2 IS NULL
         |           THEN 'MissingExpectedChecksum:'||exp2_algo
         |         WHEN exp2_algo IS NOT NULL AND c2<>exp2_digest
         |           THEN 'ChecksumMismatch:'||exp2_algo
         |         WHEN concurrent_status='Gone' THEN 'NoSuchUpload'
         |         WHEN COALESCE(concurrent_status,u_status)<>'Open'
         |           THEN 'UploadNotOpen'
         |         ELSE 'Ok' END AS verdict
         |  FROM j)
         |SELECT req_id, verdict,
         |  verdict<>'Ok' AND NOT pre_write AS rollback_delete,
         |  verdict='Ok' AND COALESCE(part_exists,false) AS replaced_cleanup,
         |  CASE WHEN verdict='Ok' AND COALESCE(part_exists,false)
         |       THEN old_size END AS replaced_size,
         |  CASE WHEN verdict='Ok' THEN size END AS part_size,
         |  CASE WHEN verdict='Ok' THEN u_backend END AS backend
         |FROM v ORDER BY req_id""".stripMargin,

    "jr1_job_route" ->
      s"""WITH ids AS (
         |  SELECT 'J'||n_nationkey AS job_id,
         |    n_nationkey%11<>3 AS routable,
         |    n_nationkey%13<>5 AS bucket_in_range,
         |    CASE WHEN n_nationkey%7=6 THEN 'Metadata'
         |         ELSE 'JobControl' END AS doc_class,
         |    CASE WHEN n_nationkey%9=7 THEN 'realm-x'
         |         ELSE 'realm-1' END AS scope_realm,
         |    n_nationkey%6+3 AS handle
         |  FROM nation),
         |bnd AS (
         |  SELECT n_nationkey+3 AS handle,
         |    CASE WHEN n_nationkey%5=4 THEN NULL
         |         ELSE 'nd-'||(n_nationkey%3) END AS allocated_by
         |  FROM nation WHERE n_nationkey<6),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k=0 THEN 'J999' ELSE 'J'||(o_orderkey%25) END
         |      AS job_id,
         |    k<>1 AS has_request
         |  FROM (SELECT *, (o_orderkey//157)%7 AS k FROM orders
         |        WHERE o_orderkey%157=0)),
         |v AS (
         |  SELECT r.*, i.routable, i.bucket_in_range, i.doc_class,
         |    i.scope_realm, b.allocated_by,
         |    b.handle IS NOT NULL AS bound,
         |    CASE WHEN i.routable IS NULL OR NOT i.routable OR
         |              NOT i.bucket_in_range THEN 'NotFound'
         |         WHEN i.doc_class<>'JobControl' OR i.scope_realm<>'realm-1'
         |           THEN 'NotFound'
         |         WHEN b.handle IS NULL OR b.allocated_by IS NULL
         |           THEN 'Unavailable'
         |         WHEN b.allocated_by='nd-0' THEN 'Local'
         |         WHEN has_request THEN 'Forward'
         |         ELSE 'Unauthorized' END AS verdict
         |  FROM req r
         |  LEFT JOIN ids i USING (job_id)
         |  LEFT JOIN bnd b ON b.handle=i.handle)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Forward' THEN allocated_by END AS owner
         |FROM v ORDER BY req_id""".stripMargin,

    "sfr1_strategy_resolution" ->
      s"""WITH req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    (o_orderkey//151)%10 AS k
         |  FROM orders WHERE o_orderkey%151=0)
         |SELECT req_id,
         |  CASE WHEN k IN (1,9) THEN 'DanglingRef' ELSE 'Ok' END AS verdict,
         |  CASE k WHEN 0 THEN 'st-9' WHEN 2 THEN 'st-8' WHEN 3 THEN 'st-8'
         |    WHEN 4 THEN 'st-4' WHEN 5 THEN 'st-3' WHEN 6 THEN 'st-5'
         |    WHEN 7 THEN 'st-6' WHEN 8 THEN 'st-7' END AS strategy_out,
         |  CASE k WHEN 0 THEN 'override'
         |    WHEN 2 THEN 'path' WHEN 3 THEN 'path' WHEN 4 THEN 'path'
         |    WHEN 5 THEN 'path' WHEN 6 THEN 'group' WHEN 7 THEN 'class'
         |    WHEN 8 THEN 'realm' END AS source
         |FROM req ORDER BY req_id""".stripMargin,

    "ps1_placement_rank" ->
      s"""SELECT section, key, CAST(value AS BIGINT) AS value FROM (VALUES
         |  ('neglog2', 'h1', 18014398509481984),
         |  ('neglog2', 'h62', 562949953421312),
         |  ('neglog2', 'h63', 281474976710656),
         |  ('neglog2', 'q48_one', 281474976710656),
         |  ('rank', '1', 1), ('rank', '2', 6), ('rank', '3', 4),
         |  ('rank', '4', 5), ('rank', '5', 3), ('rank', '6', 2)
         |) t(section, key, value) ORDER BY section, key""".stripMargin,

    "gb2_backend_lifecycle" ->
      s"""WITH bk AS (
         |  SELECT 'g'||(n_nationkey%4) AS group_id,
         |    'bk-'||n_nationkey AS backend_id,
         |    n_nationkey%3=0 AS disabled,
         |    'be-'||n_nationkey AS backend
         |  FROM nation WHERE n_nationkey<20),
         |hold AS (
         |  SELECT DISTINCT backend FROM (
         |    SELECT 'be-'||n_nationkey AS backend FROM nation
         |    WHERE n_nationkey<20 AND n_nationkey%5=0
         |    UNION ALL
         |    SELECT 'be-'||n_nationkey FROM nation
         |    WHERE n_nationkey<20 AND n_nationkey%7=1)),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k<=3 THEN 'set_disabled' ELSE 'remove' END AS op,
         |    CASE WHEN k=1 THEN 'g9' ELSE 'g'||(x%4) END AS group_id,
         |    'bk-'||x AS backend_id,
         |    k=2 OR x%3=0 AS target_disabled
         |  FROM (SELECT *, (o_orderkey//149)%6 AS k, o_orderkey%20 AS x
         |        FROM orders WHERE o_orderkey%149=0)),
         |v AS (
         |  SELECT r.*, b.disabled, b.backend,
         |    h.backend IS NOT NULL AS holds,
         |    CASE WHEN r.op='set_disabled' THEN
         |      CASE WHEN b.disabled IS NULL THEN 'NotFound' ELSE 'Ok' END
         |    ELSE
         |      CASE WHEN b.disabled IS NULL OR NOT b.disabled OR
         |                h.backend IS NOT NULL THEN 'NotRemovable'
         |           ELSE 'Ok' END END AS verdict
         |  FROM req r
         |  LEFT JOIN bk b ON b.group_id=r.group_id
         |    AND b.backend_id=r.backend_id
         |  LEFT JOIN hold h ON h.backend=b.backend)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='set_disabled'
         |       THEN disabled<>target_disabled END AS changed,
         |  CASE WHEN verdict='Ok' AND op='set_disabled'
         |       THEN target_disabled END AS disabled_out,
         |  verdict='Ok' AND op='remove' AS removed
         |FROM v ORDER BY req_id""".stripMargin,

    "gb1_backend_admission" ->
      s"""WITH base AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    (o_orderkey//139)%16 AS k,
         |    CASE o_orderkey%5 WHEN 0 THEN 'S3' WHEN 1 THEN 'Gcs'
         |         WHEN 2 THEN 'Azblob' WHEN 3 THEN 'Azdls'
         |         ELSE 'B2' END AS kind
         |  FROM orders WHERE o_orderkey%139=0)
         |SELECT req_id,
         |  CASE WHEN k>=14 THEN 'replace' ELSE 'validate' END AS op,
         |  CASE k
         |    WHEN 0 THEN 'Ok'
         |    WHEN 1 THEN 'EmptyName'
         |    WHEN 2 THEN 'UnknownPublicKey:zzz'
         |    WHEN 3 THEN 'EmptyValue:root'
         |    WHEN 4 THEN 'DuplicateKey:root'
         |    WHEN 5 THEN 'UnknownSecretKey:bad'
         |    WHEN 6 THEN CASE kind
         |      WHEN 'Gcs' THEN 'MissingPublicKey:bucket'
         |      WHEN 'B2' THEN 'MissingPublicKey:bucket'
         |      ELSE 'MissingPublicKey:endpoint' END
         |    WHEN 7 THEN CASE kind
         |      WHEN 'S3' THEN 'MissingSecret:access_key_id'
         |      WHEN 'Gcs' THEN 'MissingSecret:credential'
         |      WHEN 'B2' THEN 'MissingSecret:application_key_id'
         |      ELSE 'MissingEitherSecret' END
         |    WHEN 8 THEN CASE WHEN kind IN ('Azblob','Azdls')
         |      THEN 'MissingEitherSecret' ELSE 'Ok' END
         |    WHEN 9 THEN CASE WHEN kind='B2'
         |      THEN 'UnknownPublicKey:endpoint' ELSE 'InsecureEndpoint' END
         |    WHEN 10 THEN CASE WHEN kind='B2'
         |      THEN 'UnknownPublicKey:endpoint' ELSE 'AmbiguousEndpoint' END
         |    WHEN 11 THEN CASE WHEN kind IN ('Azblob','Azdls')
         |      THEN 'UnknownPublicKey:bucket' ELSE 'UnsafeBucket' END
         |    WHEN 12 THEN 'UnsafeRoot'
         |    WHEN 13 THEN CASE WHEN kind='S3' THEN 'InvalidBool'
         |      ELSE 'UnknownPublicKey:force_path_style' END
         |    WHEN 14 THEN 'Immutable:type'
         |    ELSE 'Immutable:root' END AS verdict,
         |  CASE k WHEN 0 THEN true
         |    WHEN 8 THEN kind NOT IN ('Azblob','Azdls')
         |    ELSE false END AS admitted
         |FROM base ORDER BY req_id""".stripMargin,

    "bcl1_cleanup_drain" ->
      s"""WITH rows_ AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS row_id,
         |    CASE WHEN k<=2 THEN 'DeleteBlob'
         |         WHEN k<=7 THEN 'ReconcileWrite'
         |         ELSE 'RegisterDht' END AS work_kind,
         |    k<>0 AS decodable,
         |    CASE WHEN k=1 THEN 'be-gone-'||(o_orderkey%2)
         |         WHEN k=9 THEN NULL
         |         ELSE 'be-'||(o_orderkey%3) END AS backend,
         |    o_orderkey%5<>0 AS delete_ok,
         |    o_orderkey%4<>0 AS dht_ok,
         |    k<>3 AS owner_readable,
         |    k IN (4,5) AS owner_present,
         |    k=4 AS owner_same, k
         |  FROM (SELECT *, (o_orderkey//137)%10 AS k FROM orders
         |        WHERE o_orderkey%137=0)),
         |v AS (
         |  SELECT *,
         |    CASE WHEN NOT decodable THEN 'Dropped'
         |         WHEN backend LIKE 'be-gone-%' THEN 'Dropped'
         |         WHEN work_kind='DeleteBlob' THEN
         |           CASE WHEN delete_ok THEN 'Processed' ELSE 'Failed' END
         |         WHEN work_kind='ReconcileWrite' THEN
         |           CASE WHEN NOT owner_readable THEN 'Failed'
         |                WHEN owner_present AND owner_same THEN 'Processed'
         |                WHEN delete_ok THEN 'Processed'
         |                ELSE 'Failed' END
         |         ELSE CASE WHEN dht_ok THEN 'Processed'
         |                   ELSE 'Failed' END END AS verdict
         |  FROM rows_)
         |SELECT row_id, work_kind, verdict,
         |  CASE WHEN verdict<>'Processed' THEN NULL
         |       WHEN work_kind='DeleteBlob' THEN 'deleted'
         |       WHEN work_kind='ReconcileWrite' THEN
         |         CASE WHEN owner_present AND owner_same THEN 'kept'
         |              ELSE 'deleted' END
         |       ELSE 'dht_registered' END AS action,
         |  verdict<>'Failed' AS row_removed
         |FROM v ORDER BY row_id""".stripMargin,

    "cn1_connector_crud" ->
      s"""WITH conn AS (
         |  SELECT 'g'||(c_custkey%5) AS group_id,
         |    'cx-'||c_custkey AS connector_id,
         |    'conn '||c_custkey AS name,
         |    CASE c_custkey%3 WHEN 0 THEN 's3' WHEN 1 THEN 'http'
         |         ELSE 'azblob' END AS kind,
         |    c_custkey%2=0 AS has_secret
         |  FROM customer WHERE c_custkey<300),
         |refg AS (SELECT 'cx-'||c_custkey AS connector_id FROM customer
         |         WHERE c_custkey<300 AND c_custkey%7=0),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k=0 THEN 'get' WHEN k=1 THEN 'list'
         |         WHEN k<=3 THEN 'replace' ELSE 'delete' END AS op,
         |    CASE WHEN k=2 THEN 'g'||((x+1)%5) ELSE 'g'||(x%5) END
         |      AS group_id,
         |    'cx-'||x AS connector_id
         |  FROM (SELECT *, (o_orderkey//131)%6 AS k, o_orderkey%300 AS x
         |        FROM orders WHERE o_orderkey%131=0)),
         |pg AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n_connectors
         |       FROM conn GROUP BY 1),
         |v AS (
         |  SELECT r.*, c.name, c.kind, c.has_secret,
         |    f.connector_id IS NOT NULL AS referenced, pg.n_connectors,
         |    CASE WHEN r.op='list' THEN 'Ok'
         |         WHEN c.name IS NULL THEN 'NotFound'
         |         WHEN r.op IN ('replace','delete') AND
         |              f.connector_id IS NOT NULL
         |           THEN 'ReferencedByObjectVersion'
         |         ELSE 'Ok' END AS verdict
         |  FROM req r
         |  LEFT JOIN conn c ON c.group_id=r.group_id
         |    AND c.connector_id=r.connector_id
         |  LEFT JOIN refg f ON f.connector_id=r.connector_id
         |  LEFT JOIN pg ON pg.group_id=r.group_id)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='get' THEN name END AS name,
         |  CASE WHEN verdict='Ok' AND op='get' THEN kind END AS kind,
         |  CASE WHEN verdict='Ok' AND op='get' THEN has_secret END
         |    AS has_secret,
         |  CASE WHEN verdict='Ok' AND op='list'
         |       THEN COALESCE(n_connectors,0) END AS n_connectors,
         |  verdict='Ok' AND op='replace' AS identity_preserved,
         |  CASE WHEN verdict='Ok' AND op='delete' THEN
         |    CAST(CASE WHEN has_secret THEN 2 ELSE 1 END AS BIGINT) END
         |    AS n_deleted
         |FROM v ORDER BY req_id""".stripMargin,

    "sb1_search_buckets" ->
      s"""WITH ${ObjectTables.bucketsLargeCte},
         |b AS (SELECT bucket, group_id,
         |        1700000000000 + CAST(substring(bucket,4,8) AS BIGINT)*1000
         |          AS created_at
         |      FROM buckets_large),
         |grants AS (
         |  SELECT 'cb-'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS bucket
         |  FROM customer WHERE c_custkey%3<>1),
         |grp AS (SELECT 'grp-'||i AS group_id, 'Group '||i AS display_name
         |        FROM (VALUES (0),(1),(2),(4)) t(i)),
         |hits AS (
         |  SELECT b.* FROM b JOIN grants USING (bucket)
         |  WHERE lower(b.bucket) LIKE '%05%' AND b.bucket NOT LIKE 'ws-%'
         |  ORDER BY b.bucket LIMIT 50)
         |SELECT 'arn:aruna:r1:nd-0:s3/'||bucket AS arn, bucket, group_id,
         |  g.display_name AS group_name, created_at
         |FROM hits LEFT JOIN grp g USING (group_id)
         |ORDER BY bucket""".stripMargin,

    "sy1_sync_relationship" ->
      s"""WITH store AS (
         |  SELECT 'sr-'||n_nationkey AS rel_id,
         |    's3-b'||(n_nationkey%6)||'/src' AS source,
         |    't-'||n_nationkey AS target,
         |    CASE n_nationkey%3 WHEN 0 THEN 'Once' WHEN 1 THEN 'Reference'
         |         ELSE 'Continuous' END AS mode,
         |    CASE WHEN n_nationkey%5=0 THEN 'Detached' ELSE 'Enabled' END
         |      AS state,
         |    n_nationkey%3=1 OR n_nationkey%7=0 AS serving
         |  FROM nation WHERE n_nationkey<20),
         |live AS (SELECT DISTINCT source, target, mode, true AS store_dup
         |         FROM store WHERE state<>'Detached'),
         |req AS (
         |  SELECT o_orderkey AS seq,
         |    lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k<=3 THEN 'create' ELSE 'remove' END AS op,
         |    CASE WHEN k=5 THEN 'sr-X' ELSE 'sr-'||x END AS rel_id,
         |    k<>2 AS source_arn_ok,
         |    CASE WHEN k=1 THEN 's3-b'||(x%6)||'/src'
         |         WHEN k=3 THEN 'dup-'||(o_orderkey%50)
         |         ELSE 'new-'||o_orderkey END AS source,
         |    CASE WHEN k=1 THEN 't-'||x
         |         WHEN k=3 THEN 't-dup'
         |         ELSE 'tn-'||o_orderkey END AS target,
         |    CASE WHEN k=1 THEN
         |      CASE x%3 WHEN 0 THEN 'Once' WHEN 1 THEN 'Reference'
         |           ELSE 'Continuous' END
         |      ELSE 'Once' END AS mode
         |  FROM (SELECT *, (o_orderkey//127)%6 AS k, o_orderkey%20 AS x
         |        FROM orders WHERE o_orderkey%127=0)),
         |jj AS (
         |  SELECT r.*, l.store_dup, s.serving,
         |    s.rel_id IS NOT NULL AS id_known,
         |    SUM(CASE WHEN r.op='create' AND r.source_arn_ok AND
         |             l.store_dup IS NULL THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY r.source, r.target, r.mode ORDER BY r.seq
         |            ROWS UNBOUNDED PRECEDING) AS n_written_upto
         |  FROM req r
         |  LEFT JOIN live l ON l.source=r.source AND l.target=r.target
         |    AND l.mode=r.mode
         |  LEFT JOIN store s ON s.rel_id=r.rel_id),
         |v AS (
         |  SELECT *,
         |    CASE WHEN op='create' THEN
         |      CASE WHEN NOT source_arn_ok THEN 'NotAnS3Arn'
         |           WHEN store_dup IS NOT NULL THEN 'Duplicate'
         |           WHEN n_written_upto > 1 THEN 'Duplicate'
         |           ELSE 'Ok' END
         |    ELSE CASE WHEN NOT id_known THEN 'NotFound' ELSE 'Ok' END END
         |      AS verdict
         |  FROM jj)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='create' THEN 'Enabled' END
         |    AS state_out,
         |  CASE WHEN verdict='Ok' AND op='remove' THEN
         |    CASE WHEN serving THEN 'Detached' ELSE 'Deleted' END END
         |    AS removal,
         |  verdict='Ok' AND op='remove' AND serving AS stub_survives
         |FROM v ORDER BY req_id""".stripMargin,

    "rd1_doc_reads" ->
      s"""WITH ra AS (
         |  SELECT 'rm-'||n_nationkey AS key, (n_nationkey%4)+1 AS n_roles
         |  FROM nation WHERE n_nationkey%2=0),
         |users AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS key,
         |         c_name AS name FROM customer),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k=0 THEN 'realm_auth' ELSE 'user_doc' END AS op,
         |    CASE WHEN k=0 THEN 'rm-'||(o_orderkey%40)
         |         ELSE 'U'||lpad(CAST(o_orderkey%1600 AS VARCHAR),8,'0') END
         |      AS key
         |  FROM (SELECT *, (o_orderkey//109)%2 AS k FROM orders
         |        WHERE o_orderkey%109=0))
         |SELECT req_id, op,
         |  CASE WHEN op='realm_auth' THEN 'Ok'
         |       WHEN u.name IS NULL THEN 'NotFound'
         |       ELSE 'Ok' END AS verdict,
         |  CASE WHEN op='realm_auth' THEN a.n_roles IS NOT NULL END
         |    AS present,
         |  CASE WHEN op='realm_auth' THEN CAST(a.n_roles AS BIGINT) END
         |    AS n_roles,
         |  CASE WHEN op='user_doc' THEN u.name END AS name
         |FROM req r
         |LEFT JOIN ra a USING (key)
         |LEFT JOIN users u USING (key)
         |ORDER BY req_id""".stripMargin,

    "rbp1_blob_paths" ->
      s"""WITH idx AS (
         |  SELECT DISTINCT md5('b:'||(l_orderkey%700)) AS blake3,
         |    '/r1/g/g'||(l_partkey%7)||'/o/'||(l_suppkey%50)
         |      AS permission_path,
         |    lpad(CAST((l_partkey*13+l_linenumber)%100000 AS VARCHAR),8,'0')
         |      AS version_id
         |  FROM lineitem WHERE l_orderkey%11=0 AND l_partkey<2000
         |    AND l_orderkey<10000000),
         |ranked AS (
         |  SELECT blake3, permission_path, version_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY blake3
         |      ORDER BY permission_path, version_id) AS INT) AS pos
         |  FROM idx),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    md5('b:'||(o_orderkey%750)) AS blake3
         |  FROM orders WHERE o_orderkey%113=0)
         |SELECT req_id, r2.pos, r2.permission_path, r2.version_id
         |FROM req r LEFT JOIN ranked r2 USING (blake3)
         |ORDER BY req_id, pos""".stripMargin,

    "onf1_joiner_admission" ->
      s"""WITH base AS (
         |  SELECT o_orderkey AS o, (o_orderkey//107)%6 AS k,
         |    lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id
         |  FROM orders WHERE o_orderkey%107=0),
         |req AS (
         |  SELECT req_id,
         |    CASE WHEN k=4 THEN 'L'||repeat('z',70)
         |         WHEN k=5 THEN NULL
         |         ELSE ' dc-'||(o%3)||' ' END AS node_location,
         |    CASE WHEN k=5 THEN 50000 WHEN k=3 THEN NULL
         |         ELSE (o%500)+1 END AS node_weight,
         |    k, o FROM base),
         |labels AS (
         |  SELECT req_id, 'team/'||(o%4) AS label_key FROM base
         |  UNION ALL SELECT req_id, 'aruna-engine.org/kind' FROM base
         |    WHERE k=1
         |  UNION ALL SELECT req_id,
         |    'aruna-engine.org/storage-class/tier'||(o%2) FROM base
         |    WHERE k=2),
         |res AS (
         |  SELECT req_id, MIN(label_key) AS reserved_key FROM labels
         |  WHERE label_key = 'aruna-engine.org/kind' OR
         |        label_key LIKE 'aruna-engine.org/storage-class/%'
         |  GROUP BY 1),
         |v AS (
         |  SELECT r.*, s.reserved_key,
         |    CASE WHEN s.reserved_key IS NOT NULL
         |           THEN 'ReservedNodeLabel:'||s.reserved_key
         |         WHEN r.node_location IS NOT NULL AND
         |              length(trim(r.node_location))>64
         |           THEN 'NodeLocationTooLong'
         |         ELSE 'Ok' END AS verdict
         |  FROM req r LEFT JOIN res s USING (req_id))
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN COALESCE(trim(node_location),'') END
         |    AS location_out,
         |  CASE WHEN verdict='Ok' THEN CAST(
         |    CASE WHEN node_weight IS NULL THEN 100
         |         ELSE least(greatest(node_weight,1),10000) END AS BIGINT)
         |    END AS weight_out
         |FROM v ORDER BY req_id""".stripMargin,

    "ot1_sync_ticket" ->
      s"""WITH users AS (
         |  SELECT 'rm-'||(c_custkey%4) AS realm_id FROM customer),
         |counts AS (SELECT realm_id, CAST(COUNT(*) AS BIGINT) AS n_users
         |           FROM users GROUP BY 1),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k=0 THEN 'issue' ELSE 'verify' END AS op,
         |    'rm-'||(o_orderkey%5) AS realm_id,
         |    'nd-'||(o_orderkey%3) AS node_id,
         |    1700000000 + (o_orderkey%1000) AS now_s,
         |    300 AS ttl_s,
         |    CASE WHEN k=1 THEN 'nd-x' ELSE 'nd-'||(o_orderkey%3) END
         |      AS t_node,
         |    CASE WHEN k=2 THEN 1600000000
         |         ELSE 1700000000 + (o_orderkey%1000) + 60 END AS t_expires,
         |    k<>3 AS has_document
         |  FROM (SELECT *, (o_orderkey//103)%5 AS k FROM orders
         |        WHERE o_orderkey%103=0)),
         |v AS (
         |  SELECT r.*, c.n_users,
         |    CASE WHEN op='issue' THEN 'Ok'
         |         WHEN t_node<>node_id THEN 'InvalidSecret'
         |         WHEN t_expires < now_s THEN 'InvalidSecret'
         |         WHEN NOT has_document THEN 'InvalidSecret'
         |         ELSE 'Ok' END AS verdict
         |  FROM req r LEFT JOIN counts c USING (realm_id))
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='issue'
         |       THEN CAST(5+COALESCE(n_users,0) AS BIGINT) END AS n_documents,
         |  CASE WHEN verdict='Ok' AND op='issue'
         |       THEN CAST(now_s+ttl_s AS BIGINT) END AS expires_at
         |FROM v ORDER BY req_id""".stripMargin,

    "ob2_secret_lifecycle" ->
      s"""WITH o7 AS (SELECT o_orderkey AS o FROM orders
         |            WHERE o_orderkey%7=3),
         |store AS (
         |  SELECT lpad(CAST(o AS VARCHAR),12,'0') AS enrollment_id,
         |    'h'||(o%1000) AS s_hash,
         |    CASE WHEN o%5=0 THEN 1699999990000 ELSE 1700000600000 END
         |      AS expires_at,
         |    CASE o%4 WHEN 0 THEN 'Available' WHEN 1 THEN 'Reserved'
         |             WHEN 2 THEN 'Finalizing' ELSE 'Consumed' END AS state,
         |    CASE WHEN o%4<>0 THEN 'n'||(o%3) END AS state_node
         |  FROM o7),
         |req AS (
         |  SELECT lpad(CAST(o AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k<=1 THEN 'create' WHEN k<=5 THEN 'inspect'
         |         WHEN k<=7 THEN 'delete' ELSE 'list' END AS op,
         |    CASE WHEN k IN (1,5,7)
         |         THEN lpad(CAST(o+9000000 AS VARCHAR),12,'0')
         |         ELSE lpad(CAST(o AS VARCHAR),12,'0') END AS enrollment_id,
         |    CASE WHEN k=4 THEN 'n9' ELSE 'n'||(o%3) END AS node_id,
         |    CASE WHEN k=3 THEN 'bad' ELSE 'h'||(o%1000) END AS secret_hash
         |  FROM (SELECT o, (o//7)%9 AS k FROM o7)),
         |jj AS (
         |  SELECT r.*, s.s_hash, s.expires_at, s.state, s.state_node,
         |    s.state='Finalizing' AND s.state_node=r.node_id AS fin_self
         |  FROM req r LEFT JOIN store s USING (enrollment_id)),
         |v AS (
         |  SELECT *,
         |    CASE WHEN op IN ('create','list') THEN 'Ok'
         |         WHEN s_hash IS NULL THEN 'NotFound'
         |         WHEN op='delete' THEN 'Ok'
         |         WHEN state='Finalizing' AND state_node<>node_id
         |           THEN 'AlreadyClaimed'
         |         WHEN expires_at < 1700000000000 AND NOT fin_self
         |           THEN 'Expired'
         |         WHEN s_hash<>secret_hash THEN 'InvalidSecret'
         |         ELSE 'Ok' END AS verdict
         |  FROM jj)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='create' THEN 'Available' END
         |    AS state_out,
         |  CASE WHEN verdict='Ok' AND op='delete' THEN CAST(2 AS BIGINT) END
         |    AS n_deleted,
         |  CASE WHEN verdict='Ok' AND op='list'
         |       THEN (SELECT CAST(COUNT(*) AS BIGINT) FROM store) END
         |    AS n_secrets,
         |  CASE WHEN verdict='Ok' AND op='inspect' THEN expires_at END
         |    AS expires_at_out
         |FROM v ORDER BY req_id""".stripMargin,

    "ah1_allocate_handle" ->
      s"""WITH nat AS (SELECT n_nationkey AS n FROM nation
         |            WHERE n_nationkey<15),
         |gs AS (SELECT * FROM (VALUES (0),(1),(2)) t(g)),
         |rngs AS (
         |  SELECT 'rm-'||(n%5) AS realm_id, 'nd-'||((n//5)%3) AS node_id,
         |    'rg-'||n||'-'||g AS range_id,
         |    100+n*40+g*12 AS s0,
         |    100+n*40+g*12 + CASE WHEN g=2 THEN 1 ELSE (n%7)+3 END AS e0
         |  FROM nat CROSS JOIN gs WHERE g <= n%3),
         |hs AS (
         |  SELECT realm_id, node_id, range_id, s0,
         |         unnest(range(s0+1, e0)) AS handle
         |  FROM rngs WHERE e0 > s0+1),
         |ranked AS (
         |  SELECT realm_id, node_id, CAST(handle AS BIGINT) AS handle,
         |    range_id AS allocator_range_id,
         |    ROW_NUMBER() OVER (PARTITION BY realm_id, node_id
         |      ORDER BY s0, range_id, handle) AS rnk
         |  FROM hs),
         |req AS (
         |  SELECT o_orderkey AS seq,
         |    lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'rm-'||(o_orderkey%5) AS realm_id,
         |    'nd-'||(o_orderkey%3) AS node_id
         |  FROM orders WHERE o_orderkey%101=0),
         |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY realm_id, node_id
         |         ORDER BY seq) AS rnk FROM req)
         |SELECT req_id,
         |  CASE WHEN h.handle IS NULL THEN 'PlacementHandleExhausted'
         |       ELSE 'Ok' END AS verdict,
         |  h.handle, h.allocator_range_id
         |FROM rr LEFT JOIN ranked h USING (realm_id, node_id, rnk)
         |ORDER BY req_id""".stripMargin,

    "rr1_realm_role_admin" ->
      s"""WITH nat AS (SELECT n_nationkey AS n FROM nation
         |            WHERE n_nationkey<10),
         |auth_docs AS (SELECT 'rm-'||n AS realm_id FROM nat WHERE n<>7),
         |reducers AS (SELECT 'rm-'||n AS realm_id,
         |  CASE WHEN n=4 THEN 'group:rm-4' ELSE 'realm:rm-'||n END
         |    AS stored_target
         |  FROM nat WHERE n%2=0),
         |ords AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(j)),
         |ks AS (SELECT * FROM (VALUES (0),(1),(2)) t(k)),
         |auth_roles AS (SELECT 'rm-'||n AS realm_id,
         |  'ro-'||n||'-'||j AS role_id
         |  FROM nat CROSS JOIN ords WHERE j <= n%3+1),
         |assignments AS (SELECT 'rm-'||n AS realm_id,
         |  'ro-'||n||'-'||j AS role_id, 'u'||k AS user_id
         |  FROM nat CROSS JOIN ords CROSS JOIN ks
         |  WHERE j <= n%3+1 AND (n+j+k)%3=0),
         |base AS (SELECT o_orderkey AS o, (o_orderkey//97)%10 AS m,
         |  CASE WHEN (o_orderkey//97)%10=5 THEN 7
         |       WHEN (o_orderkey//97)%10=6 THEN 4
         |       ELSE o_orderkey%10 END AS rlm
         |  FROM orders WHERE o_orderkey%97=0),
         |req AS (SELECT lpad(CAST(o AS VARCHAR),12,'0') AS req_id,
         |  CASE WHEN m<=6 THEN 'add_role' ELSE 'assign_user' END AS op,
         |  'rm-'||rlm AS realm_id,
         |  CASE WHEN m=0 THEN '  realm_admin  ' ELSE 'role-'||o END
         |    AS role_name,
         |  CASE WHEN m=7 THEN 'nil@rm-'||rlm ELSE 'u'||(o%3) END AS user_id,
         |  m<>4 AS authorized, m, o, rlm FROM base),
         |req_users AS (
         |  SELECT req_id, 'u1' AS user_id FROM req WHERE m<=6
         |  UNION ALL SELECT req_id, 'nil@rm-'||((rlm+1)%10) FROM req
         |    WHERE m=1
         |  UNION ALL SELECT req_id, 'nil@rm-'||rlm FROM req WHERE m IN (2,3)),
         |req_perms AS (
         |  SELECT req_id, 'READ' AS permission FROM req WHERE m<=6
         |  UNION ALL SELECT req_id, 'WRITE' FROM req WHERE m=2),
         |req_roles AS (
         |  SELECT req_id, 'ro-'||rlm||'-0' AS role_id FROM req WHERE m>=7
         |  UNION ALL SELECT req_id, 'ro-'||rlm||'-1' FROM req WHERE m>=7
         |  UNION ALL SELECT req_id, 'ro-'||rlm||'-9' FROM req WHERE m=8),
         |user_agg AS (SELECT u.req_id,
         |  bool_or(u.user_id LIKE 'nil@%' AND
         |    u.user_id <> 'nil@'||r.realm_id) AS bad_nil,
         |  bool_or(u.user_id = 'nil@'||r.realm_id) AS is_public,
         |  CAST(COUNT(*) AS BIGINT) AS n_assigned
         |  FROM req_users u JOIN req r USING (req_id) GROUP BY 1),
         |perm_agg AS (SELECT req_id, bool_or(permission<>'READ') AS non_read
         |  FROM req_perms GROUP BY 1),
         |list_agg AS (SELECT rr.req_id,
         |  bool_or(ar.role_id IS NULL) AS list_miss,
         |  CAST(COUNT(*) AS BIGINT) AS n_listed,
         |  CAST(SUM(CASE WHEN asg.user_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_already
         |  FROM req_roles rr JOIN req r USING (req_id)
         |  LEFT JOIN auth_roles ar ON ar.realm_id=r.realm_id
         |    AND ar.role_id=rr.role_id
         |  LEFT JOIN assignments asg ON asg.realm_id=r.realm_id
         |    AND asg.role_id=rr.role_id AND asg.user_id=r.user_id
         |  GROUP BY 1),
         |jj AS (SELECT r.*, ua.bad_nil, ua.is_public, ua.n_assigned,
         |  pa.non_read, la.list_miss, la.n_listed, la.n_already,
         |  ad.realm_id IS NOT NULL AS doc_ok, rd.stored_target
         |  FROM req r
         |  LEFT JOIN user_agg ua USING (req_id)
         |  LEFT JOIN perm_agg pa USING (req_id)
         |  LEFT JOIN list_agg la USING (req_id)
         |  LEFT JOIN auth_docs ad ON ad.realm_id=r.realm_id
         |  LEFT JOIN reducers rd ON rd.realm_id=r.realm_id),
         |v AS (SELECT *,
         |  CASE WHEN op='add_role' THEN
         |    CASE WHEN trim(role_name) = 'realm_admin' THEN 'ReservedRoleName'
         |         WHEN COALESCE(bad_nil,false) THEN 'InvalidAssignedUser'
         |         WHEN COALESCE(is_public,false) AND COALESCE(non_read,false)
         |           THEN 'InvalidPublicRole'
         |         WHEN NOT authorized THEN 'Unauthorized'
         |         WHEN NOT doc_ok THEN 'RealmAuthDocNotFound'
         |         WHEN stored_target IS NOT NULL AND
         |              stored_target<>'realm:'||realm_id
         |           THEN 'TargetMismatch'
         |         ELSE 'Ok' END
         |  ELSE
         |    CASE WHEN user_id LIKE 'nil%' THEN 'InvalidUserId'
         |         WHEN NOT authorized THEN 'Unauthorized'
         |         WHEN NOT doc_ok THEN 'AuthDocNotFound'
         |         WHEN COALESCE(list_miss,false) THEN 'RoleNotFound'
         |         WHEN stored_target IS NOT NULL AND
         |              stored_target<>'realm:'||realm_id
         |           THEN 'TargetMismatch'
         |         ELSE 'Ok' END END AS verdict
         |  FROM jj)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='add_role'
         |       THEN COALESCE(is_public,false) END AS role_public,
         |  CASE WHEN verdict='Ok' AND op='add_role'
         |       THEN CAST(COALESCE(n_assigned,0) AS BIGINT) END AS n_assigned,
         |  CASE WHEN verdict='Ok' AND op='assign_user'
         |       THEN CAST(n_listed AS BIGINT) END AS n_roles,
         |  CASE WHEN verdict='Ok' AND op='assign_user'
         |       THEN CAST(COALESCE(n_already,0) AS BIGINT) END AS n_already
         |FROM v ORDER BY req_id""".stripMargin,

    "gu1_get_user" ->
      s"""WITH users AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS user_id,
         |         c_name AS name, c_custkey%4 AS n_subjects
         |  FROM customer),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'U'||lpad(CAST(o_orderkey%1600 AS VARCHAR),8,'0') AS user_id,
         |    k<>0 AS authorized, k<>1 AS id_parses
         |  FROM (SELECT *, (o_orderkey//79)%4 AS k FROM orders
         |        WHERE o_orderkey%79=0)),
         |v AS (
         |  SELECT r.*, u.name, u.n_subjects,
         |    CASE WHEN NOT authorized THEN 'Unauthorized'
         |         WHEN NOT id_parses THEN 'InvalidUserId'
         |         WHEN u.name IS NULL THEN 'UserNotFound'
         |         ELSE 'Ok' END AS verdict
         |  FROM req r LEFT JOIN users u USING (user_id))
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN name END AS name,
         |  CASE WHEN verdict='Ok' THEN CAST(n_subjects AS BIGINT) END
         |    AS n_subjects
         |FROM v ORDER BY req_id""".stripMargin,

    "gg1_get_group" ->
      s"""WITH base AS (SELECT c_custkey FROM customer WHERE c_custkey<200),
         |grp AS (SELECT 'G'||lpad(CAST(c_custkey AS VARCHAR),4,'0')
         |          AS group_id, 'grp '||c_custkey AS name FROM base),
         |auth AS (SELECT 'G'||lpad(CAST(c_custkey AS VARCHAR),4,'0')
         |           AS group_id, (c_custkey%6)+1 AS n_roles
         |         FROM base WHERE c_custkey%5<>0),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'G'||lpad(CAST(o_orderkey%260 AS VARCHAR),4,'0') AS group_id
         |  FROM orders WHERE o_orderkey%83=0),
         |v AS (
         |  SELECT r.*, g.name, a.n_roles,
         |    CASE WHEN g.name IS NULL THEN 'GroupNotFound'
         |         WHEN a.n_roles IS NULL THEN 'AuthDocNotFound'
         |         ELSE 'Ok' END AS verdict
         |  FROM req r
         |  LEFT JOIN grp g USING (group_id)
         |  LEFT JOIN auth a USING (group_id))
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN name END AS name,
         |  CASE WHEN verdict='Ok' THEN CAST(n_roles AS BIGINT) END
         |    AS n_roles
         |FROM v ORDER BY req_id""".stripMargin,

    "grc1_get_realm_config" ->
      s"""WITH cfg AS (
         |  SELECT 'realm-'||n_nationkey AS realm_id, n_name AS description,
         |         (n_nationkey%5)+1 AS n_nodes
         |  FROM nation),
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'realm-'||(o_orderkey%40) AS realm_id
         |  FROM orders WHERE o_orderkey%89=0)
         |SELECT req_id,
         |  CASE WHEN c.description IS NOT NULL THEN 'Ok'
         |       ELSE 'DocumentNotFound' END AS verdict,
         |  CASE WHEN c.description IS NOT NULL THEN c.description END
         |    AS description,
         |  CASE WHEN c.description IS NOT NULL
         |       THEN CAST(c.n_nodes AS BIGINT) END AS n_nodes
         |FROM req r LEFT JOIN cfg c USING (realm_id)
         |ORDER BY req_id""".stripMargin,

    "dash1_dashboard_notify" ->
      s"""WITH ev AS (
         |  SELECT l_orderkey%500 AS batch_id,
         |    CASE l_partkey%13
         |      WHEN 0 THEN 'Group' WHEN 1 THEN 'GroupAuthorization'
         |      WHEN 2 THEN 'RealmAuthorization' WHEN 3 THEN 'RealmConfig'
         |      WHEN 4 THEN 'User' WHEN 5 THEN 'MetadataRegistry'
         |      WHEN 6 THEN 'MetadataCreateEvent'
         |      WHEN 7 THEN 'MetadataDocumentLifecycle'
         |      WHEN 8 THEN 'MetadataGraphLifecycle' WHEN 9 THEN 'NodeUsage'
         |      WHEN 10 THEN 'WatchInterest' WHEN 11 THEN 'WatchSubscription'
         |      ELSE 'NodeInfo' END AS target_kind
         |  FROM lineitem WHERE l_orderkey%17=0)
         |SELECT batch_id,
         |  bool_or(target_kind NOT IN ('WatchInterest','WatchSubscription',
         |    'NodeInfo')) AS notify,
         |  CAST(SUM(CASE WHEN target_kind NOT IN ('WatchInterest',
         |    'WatchSubscription','NodeInfo') THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_relevant
         |FROM ev GROUP BY batch_id ORDER BY batch_id""".stripMargin,

    "crr1_create_realm" ->
      s"""WITH req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'realm-'||(o_orderkey%9) AS realm_id,
         |    CASE WHEN k=0 THEN NULL
         |         WHEN k=1 THEN '  eu-'||(o_orderkey%3)||'  '
         |         WHEN k=2 THEN '   '
         |         WHEN k=3 THEN 'L'||repeat('x',70)
         |         ELSE 'us-'||(o_orderkey%4) END AS node_location,
         |    CASE WHEN k=4 THEN 0 WHEN k=5 THEN 2000000
         |         WHEN k=1 THEN 250 END AS node_weight,
         |    CASE WHEN o_orderkey%3<>0 THEN 'idp-'||(o_orderkey%7) END
         |      AS oidc1_id,
         |    CASE WHEN o_orderkey%4=0 THEN 'adp-'||(o_orderkey%5) END
         |      AS oidc2_id
         |  FROM (SELECT *, (o_orderkey//71)%6 AS k FROM orders
         |        WHERE o_orderkey%71=0)),
         |v AS (
         |  SELECT *,
         |    CASE WHEN node_location IS NOT NULL AND
         |              length(trim(node_location))>64
         |         THEN 'NodeLocationTooLong' ELSE 'Ok' END AS verdict,
         |    (CASE WHEN oidc1_id IS NOT NULL THEN 1 ELSE 0 END +
         |     CASE WHEN oidc2_id IS NOT NULL THEN 1 ELSE 0 END) AS n_oidc
         |  FROM req)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN COALESCE(trim(node_location),'') END
         |    AS location_out,
         |  CASE WHEN verdict='Ok' THEN CAST(
         |    CASE WHEN node_weight IS NULL THEN 100
         |         ELSE least(greatest(node_weight,1),10000) END
         |    AS BIGINT) END AS weight_out,
         |  CASE WHEN verdict='Ok' THEN CAST(3 AS BIGINT) END AS pool_start,
         |  CASE WHEN verdict='Ok' THEN CAST(1047555 AS BIGINT) END
         |    AS pool_end,
         |  CASE WHEN verdict='Ok' THEN CAST(3 AS BIGINT) END AS range_start,
         |  CASE WHEN verdict='Ok' THEN CAST(1027 AS BIGINT) END AS range_end,
         |  CASE WHEN verdict='Ok' THEN CAST(3 AS BIGINT) END
         |    AS jobcontrol_handle,
         |  CASE WHEN verdict='Ok' THEN CAST(1 AS BIGINT) END
         |    AS metadata_handle,
         |  CASE WHEN verdict='Ok' THEN 'realm_admin' END AS admin_role,
         |  CASE WHEN verdict='Ok' THEN '/'||realm_id||'/admin/**' END
         |    AS admin_perm_path,
         |  CASE WHEN verdict='Ok' THEN CAST(2 AS BIGINT) END AS n_strategies,
         |  CASE WHEN verdict='Ok' THEN CAST(4 AS BIGINT) END
         |    AS n_everywhere_bindings,
         |  CASE WHEN verdict='Ok' THEN
         |    CASE WHEN oidc1_id IS NULL AND oidc2_id IS NULL THEN ''
         |         WHEN oidc2_id IS NULL THEN oidc1_id
         |         WHEN oidc1_id IS NULL THEN oidc2_id
         |         WHEN oidc1_id <= oidc2_id THEN oidc1_id||','||oidc2_id
         |         ELSE oidc2_id||','||oidc1_id END END AS providers_sorted,
         |  CASE WHEN verdict='Ok' THEN CAST(15+n_oidc AS BIGINT) END
         |    AS n_config_events,
         |  CASE WHEN verdict='Ok' THEN CAST(16+n_oidc AS BIGINT) END
         |    AS n_outbox
         |FROM v ORDER BY req_id""".stripMargin,

    "ct1_create_token" ->
      s"""WITH req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN k=0 THEN 'Local' WHEN k IN (1,2) THEN 'Management'
         |         ELSE 'Server' END AS capability,
         |    1700000000 + (o_orderkey%1000000) AS iat_s,
         |    CASE WHEN k=1 THEN 1700000000 + (o_orderkey%1000000) +
         |           (o_orderkey%50000) + 1
         |         WHEN k=3 THEN 1700000000 + (o_orderkey%1000000)
         |         WHEN k=4 THEN 1700000000 + (o_orderkey%1000000) - 10 END
         |      AS expiry_s
         |  FROM (SELECT *, (o_orderkey//73)%5 AS k FROM orders
         |        WHERE o_orderkey%73=0)),
         |v AS (
         |  SELECT *,
         |    CASE WHEN capability='Local' THEN 'NotEnoughCapabilities'
         |         WHEN expiry_s IS NOT NULL AND expiry_s<=iat_s
         |           THEN 'InvalidTimestamp'
         |         ELSE 'Ok' END AS verdict
         |  FROM req)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN CAST(COALESCE(expiry_s,
         |    epoch(to_timestamp(iat_s) + INTERVAL 12 MONTH)) AS BIGINT) END
         |    AS exp_out,
         |  CASE WHEN verdict='Ok' THEN capability='Server' END
         |    AS has_issuer_pubkey,
         |  CASE WHEN verdict='Ok' THEN capability='Server' END
         |    AS has_delegation
         |FROM v ORDER BY req_id""".stripMargin,

    "cmd1_create_document" ->
      s"""WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 600),
         |reg AS (SELECT 'D'||lpad(CAST(doc_id AS VARCHAR),6,'0')
         |          AS document_id FROM docs WHERE doc_id%7=0),
         |acc AS (
         |  SELECT 'D'||lpad(CAST(doc_id AS VARCHAR),6,'0') AS document_id,
         |         'r1' AS a_realm, 'g'||(doc_id%5) AS a_group,
         |         'p/'||doc_id AS a_path, doc_id%2=0 AS a_public,
         |         'E'||lpad(CAST(doc_id AS VARCHAR),8,'0') AS a_event_id
         |  FROM docs WHERE doc_id%13=0),
         |plc AS (
         |  SELECT 'D'||lpad(CAST(doc_id AS VARCHAR),6,'0') AS document_id,
         |    CASE WHEN doc_id%31=0 THEN 'Workspace' ELSE 'Metadata' END
         |      AS doc_class,
         |    CASE WHEN doc_id%2=0 THEN 'Realm' ELSE 'Group' END AS scope_kind,
         |    CASE WHEN doc_id%2=0 THEN
         |           CASE WHEN doc_id%29=0 THEN 'r2' ELSE 'r1' END
         |         ELSE CASE WHEN doc_id%23=0 THEN 'g-x'
         |                   ELSE 'g'||(doc_id%5) END END AS scope_id,
         |    doc_id%19<>0 AS is_holder
         |  FROM docs WHERE doc_id%37<>0),
         |req AS (
         |  SELECT o_orderkey AS seq,
         |    lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'D'||lpad(CAST(x AS VARCHAR),6,'0') AS document_id,
         |    'r1' AS realm_id, 'g'||(x%5) AS group_id,
         |    CASE WHEN k=0 THEN '  /p/'||x||'/ ' ELSE 'p/'||x END
         |      AS document_path,
         |    CASE WHEN k=1 THEN x%2<>0 ELSE x%2=0 END AS public,
         |    k<>2 AS payload_valid, k=3 AS skip_existing
         |  FROM (SELECT *, (o_orderkey//41)%6 AS k, o_orderkey%600 AS x
         |        FROM orders WHERE o_orderkey%41=0)),
         |j AS (
         |  SELECT r.*, trim(trim(r.document_path), '/') AS norm_path,
         |    g.document_id IS NOT NULL AS in_registry,
         |    a.a_realm, a.a_group, a.a_path, a.a_public, a.a_event_id,
         |    p.doc_class, p.scope_kind, p.scope_id, p.is_holder
         |  FROM req r
         |  LEFT JOIN reg g USING (document_id)
         |  LEFT JOIN acc a USING (document_id)
         |  LEFT JOIN plc p USING (document_id)),
         |v0 AS (
         |  SELECT *,
         |    CASE WHEN NOT payload_valid THEN 'InvalidInput'
         |         WHEN in_registry AND NOT skip_existing
         |           THEN 'DocumentAlreadyExists'
         |         WHEN a_event_id IS NOT NULL THEN
         |           CASE WHEN a_realm=realm_id AND a_group=group_id AND
         |                     a_path=norm_path AND a_public=public
         |                THEN 'OkReplayed' ELSE 'DocumentAlreadyExists' END
         |         WHEN doc_class IS NULL OR doc_class<>'Metadata' OR NOT (
         |           (scope_kind='Realm' AND scope_id=realm_id) OR
         |           (scope_kind='Group' AND scope_id=group_id))
         |           THEN 'PlacementBindingUnavailable'
         |         WHEN NOT is_holder THEN 'OriginHoldsNoBucket'
         |         ELSE 'Ok' END AS verdict0
         |  FROM j),
         |v1 AS (
         |  SELECT *,
         |    MIN(CASE WHEN verdict0='Ok' THEN seq END)
         |      OVER (PARTITION BY document_id) AS first_ok_seq
         |  FROM v0),
         |v2 AS (
         |  SELECT *,
         |    MAX(CASE WHEN seq=first_ok_seq THEN realm_id END)
         |      OVER (PARTITION BY document_id) AS w_realm,
         |    MAX(CASE WHEN seq=first_ok_seq THEN group_id END)
         |      OVER (PARTITION BY document_id) AS w_group,
         |    MAX(CASE WHEN seq=first_ok_seq THEN norm_path END)
         |      OVER (PARTITION BY document_id) AS w_path,
         |    MAX(CASE WHEN seq=first_ok_seq THEN public END)
         |      OVER (PARTITION BY document_id) AS w_public
         |  FROM v1),
         |v AS (
         |  SELECT *,
         |    CASE WHEN first_ok_seq IS NOT NULL AND seq > first_ok_seq AND
         |              verdict0 NOT IN ('InvalidInput',
         |                'DocumentAlreadyExists', 'OkReplayed') THEN
         |           CASE WHEN w_realm=realm_id AND w_group=group_id AND
         |                     w_path=norm_path AND w_public=public
         |                THEN 'OkReplayed' ELSE 'DocumentAlreadyExists' END
         |         ELSE verdict0 END AS verdict
         |  FROM v2)
         |SELECT req_id, verdict, verdict='OkReplayed' AS replayed,
         |  CASE WHEN verdict IN ('Ok','OkReplayed')
         |       THEN 'https://w3id.org/aruna/'||document_id END AS graph_iri,
         |  CASE WHEN verdict IN ('Ok','OkReplayed') THEN norm_path END
         |    AS norm_path,
         |  CASE WHEN verdict IN ('Ok','OkReplayed')
         |       THEN '/'||realm_id||'/g/'||group_id||'/meta/'||norm_path||
         |            '@'||document_id END AS permission_path,
         |  CASE WHEN verdict='OkReplayed' THEN a_event_id END
         |    AS replayed_event_id
         |FROM v ORDER BY req_id""".stripMargin,

    "dmd1_delete_document" ->
      s"""WITH reg AS (
         |  SELECT 'graph:'||doc_id AS graph_iri,
         |         CAST(doc_id AS VARCHAR) AS document_id,
         |         'grp-'||(doc_id%10) AS group_id,
         |         lpad(CAST((doc_id*7)%100000 AS VARCHAR),8,'0')
         |           AS last_event_id
         |  FROM documents),
         |req AS (
         |  SELECT o_orderkey AS seq,
         |    lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    CASE WHEN cls=1 THEN 'grp-x'
         |         ELSE 'grp-'||((o_orderkey%97)%10) END AS group_id,
         |    CASE WHEN cls=0 THEN '999999'
         |         ELSE CAST(o_orderkey%97 AS VARCHAR) END AS document_id
         |  FROM (SELECT *, (o_orderkey//53)%4 AS cls FROM orders
         |        WHERE o_orderkey%53=0)),
         |j AS (
         |  SELECT r.*, g.graph_iri, g.last_event_id,
         |    ROW_NUMBER() OVER (PARTITION BY r.group_id, r.document_id
         |      ORDER BY r.seq) AS nth
         |  FROM req r
         |  LEFT JOIN reg g ON g.group_id=r.group_id
         |    AND g.document_id=r.document_id),
         |v AS (
         |  SELECT *, CASE WHEN graph_iri IS NULL OR nth>1
         |                 THEN 'DocumentNotFound' ELSE 'Ok' END AS verdict
         |  FROM j)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN graph_iri END AS graph_iri,
         |  CASE WHEN verdict='Ok' THEN last_event_id END
         |    AS deleted_after_event_id,
         |  CASE WHEN verdict='Ok' THEN 'Deleted' END AS tombstone_status,
         |  verdict='Ok' AS prune_job,
         |  CASE WHEN verdict='Ok' THEN CAST(3 AS BIGINT) END AS n_outbox
         |FROM v ORDER BY req_id""".stripMargin,

    "umd1_update_document" ->
      s"""WITH ${graft.sparql.RdfTables.registryCte},
         |req AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    'grp-'||((o_orderkey%490)%10) AS group_id,
         |    CASE WHEN o_orderkey%13=0 THEN '999999'
         |         ELSE CAST(o_orderkey%490 AS VARCHAR) END AS document_id,
         |    o_orderkey%3=0 AS public,
         |    CASE WHEN k<=1 THEN 'ReplaceRoCrate'
         |         WHEN k%2=0 THEN 'UpsertDataEntity'
         |         ELSE 'UpsertContextualEntity' END AS mutation,
         |    k
         |  FROM (SELECT *, (o_orderkey//67)%11 AS k FROM orders
         |        WHERE o_orderkey%67=0)),
         |j AS (
         |  SELECT r.*, g.graph_iri, g.public AS old_public
         |  FROM req r LEFT JOIN registry g
         |    ON g.group_id=r.group_id AND g.document_id=r.document_id),
         |v AS (
         |  SELECT *,
         |    CASE WHEN graph_iri IS NULL THEN 'DocumentNotFound'
         |         WHEN k=1 THEN 'InvalidInput:crate'
         |         WHEN k=4 THEN 'InvalidInput:not_json'
         |         WHEN k=5 THEN 'InvalidInput:not_object'
         |         WHEN k=6 THEN 'InvalidInput:has_graph'
         |         WHEN k=7 THEN 'InvalidInput:missing_id'
         |         WHEN k=8 THEN 'InvalidInput:missing_type'
         |         WHEN k=9 THEN 'InvalidInput:bad_type'
         |         WHEN k=10 THEN 'InvalidInput:missing_name'
         |         ELSE 'Ok' END AS verdict
         |  FROM j)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN graph_iri END AS graph_iri,
         |  CASE WHEN verdict='Ok' THEN public END AS public_out,
         |  CASE WHEN verdict='Ok' THEN public<>old_public END
         |    AS public_changed,
         |  CASE WHEN verdict='Ok' THEN mutation END AS audit_op,
         |  verdict='Ok' AS mat_drain
         |FROM v ORDER BY req_id""".stripMargin,

    "og1_oidc_register" ->
      s"""WITH idx AS (
         |  SELECT '{"kind":"oidc","issuer":"https://idp-'||(c_custkey%5)||
         |           '.example","sub":"sub-'||c_custkey||'"}' AS subject_key,
         |         'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS user_id
         |  FROM customer WHERE c_custkey%3=0),
         |req AS (
         |  SELECT o_orderkey AS seq,
         |    'rg'||lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    '{"kind":"oidc","issuer":"https://idp-'||((o_orderkey%1500)%5)||
         |      '.example","sub":"sub-'||(o_orderkey%1500)||'"}'
         |      AS subject_key,
         |    'N'||lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS new_user_id
         |  FROM orders WHERE o_orderkey%31=0),
         |j AS (
         |  SELECT r.*, i.user_id AS indexed_user,
         |    ROW_NUMBER() OVER (PARTITION BY r.subject_key ORDER BY r.seq)
         |      AS nth,
         |    FIRST_VALUE(r.new_user_id) OVER (PARTITION BY r.subject_key
         |      ORDER BY r.seq) AS first_new
         |  FROM req r LEFT JOIN idx i USING (subject_key))
         |SELECT req_id, subject_key,
         |  CASE WHEN indexed_user IS NOT NULL OR nth>1 THEN 'Adopted'
         |       ELSE 'Created' END AS mode,
         |  COALESCE(indexed_user, CASE WHEN nth>1 THEN first_new END,
         |    new_user_id) AS user_id,
         |  indexed_user IS NULL AND nth=1 AS announce
         |FROM j ORDER BY req_id""".stripMargin,

    "og2_get_oidc_user" ->
      s"""WITH idx AS (
         |  SELECT '{"kind":"oidc","issuer":"https://idp-'||(c_custkey%5)||
         |           '.example","sub":"sub-'||c_custkey||'"}' AS subject_key,
         |    CASE WHEN c_custkey%19=0
         |         THEN 'Z'||lpad(CAST(c_custkey AS VARCHAR),8,'0')
         |         ELSE 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') END
         |      AS iuser
         |  FROM customer WHERE c_custkey%3=0),
         |users AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS user_id,
         |    'Customer#'||c_custkey AS display_name,
         |    1700000000000 + c_custkey*1000 AS created_at_ms
         |  FROM customer),
         |req AS (
         |  SELECT 'og'||lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |    '{"kind":"oidc","issuer":"https://idp-'||((o_orderkey%1500)%5)||
         |      '.example","sub":"sub-'||(o_orderkey%1500)||'"}'
         |      AS subject_key
         |  FROM orders WHERE o_orderkey%41=0)
         |SELECT r.req_id,
         |  CASE WHEN u.user_id IS NOT NULL THEN 'Ok'
         |       ELSE 'UserNotFound' END AS verdict,
         |  u.user_id,
         |  u.display_name,
         |  CAST(u.created_at_ms AS BIGINT) AS created_at_ms
         |FROM req r
         |LEFT JOIN idx i USING (subject_key)
         |LEFT JOIN users u ON u.user_id = i.iuser
         |ORDER BY req_id""".stripMargin,

    "ecs1_canonical_subject" ->
      s"""WITH ords AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(ord)),
         |users AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS user_id,
         |    CASE WHEN c_custkey%97=0
         |         THEN 'X'||lpad(CAST(c_custkey AS VARCHAR),8,'0')
         |         ELSE 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') END
         |      AS stored_id
         |  FROM customer),
         |subj AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR),8,'0') AS user_id,
         |    ord, c_custkey,
         |    '{"kind":"oidc","issuer":"https://idp-'||(c_custkey%5)||
         |      '.example","sub":"sub-'||c_custkey||'-'||ord||'"}'
         |      AS subject_key
         |  FROM customer CROSS JOIN ords
         |  WHERE c_custkey%11<>0 AND ord <= c_custkey%4),
         |idx AS (
         |  SELECT subject_key,
         |    CASE WHEN (c_custkey+ord)%17=0
         |         THEN 'U'||lpad(CAST(c_custkey+1 AS VARCHAR),8,'0')
         |         ELSE user_id END AS iuser
         |  FROM subj WHERE (c_custkey+ord)%13<>0),
         |walk AS (
         |  SELECT s.user_id, CAST(COUNT(*) AS BIGINT) AS n_subjects,
         |    MIN(CASE WHEN i.iuser IS NULL OR i.iuser<>s.user_id
         |             THEN s.ord END) AS first_fail_ord
         |  FROM subj s LEFT JOIN idx i ON s.subject_key=i.subject_key
         |  GROUP BY 1),
         |req AS (
         |  SELECT 'ecs'||lpad(CAST(o_orderkey AS VARCHAR),12,'0') AS req_id,
         |         'U'||lpad(CAST(o_orderkey%1600 AS VARCHAR),8,'0')
         |           AS user_id
         |  FROM orders WHERE o_orderkey%37=0)
         |SELECT r.req_id,
         |  CASE WHEN u.stored_id IS NULL OR u.stored_id<>r.user_id
         |         THEN 'Unauthorized'
         |       WHEN w.first_fail_ord IS NOT NULL THEN 'Forbidden'
         |       ELSE 'Ok' END AS verdict,
         |  CASE WHEN u.stored_id IS NULL OR u.stored_id<>r.user_id THEN NULL
         |       ELSE CAST(COALESCE(w.first_fail_ord+1, w.n_subjects, 0)
         |                 AS BIGINT) END AS n_checked
         |FROM req r
         |LEFT JOIN users u USING (user_id)
         |LEFT JOIN walk w ON w.user_id = r.user_id
         |ORDER BY req_id""".stripMargin,

    "uu1_update_user" ->
      s"""WITH base AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |         (o_orderkey//3)%14 AS cls, o_orderkey AS o
         |  FROM orders WHERE o_orderkey%47 = 19),
         |b2 AS (
         |  SELECT *,
         |    CASE WHEN t2 = 149 THEN 148 ELSE t2 END AS t3
         |  FROM (SELECT *,
         |          CASE WHEN t1%53 = 0 THEN t1+1 ELSE t1 END AS t2
         |        FROM (SELECT *, (o%149)+1 AS t1 FROM base))),
         |b3 AS (
         |  SELECT req_id, cls, o,
         |    'U'||lpad(CAST(CASE WHEN cls=4 THEN 999999
         |                        WHEN cls=5 THEN ((o%2)+1)*53
         |                        WHEN cls=13 THEN 149
         |                        ELSE t3 END AS VARCHAR), 6, '0')
         |      AS target_user
         |  FROM b2),
         |reqs AS (
         |  SELECT req_id, cls, target_user,
         |    CASE WHEN cls=0 THEN 'r2' ELSE 'r1' END AS target_realm,
         |    CASE WHEN cls=2 OR cls=12 THEN target_user
         |         ELSE 'admin' END AS auth_user,
         |    CASE WHEN cls=1 THEN 'other'
         |         WHEN cls=2 OR cls=12 THEN target_user
         |         ELSE 'admin' END AS actor_user,
         |    cls=2 AS restricted,
         |    cls<>3 AND cls<>12 AS authorized,
         |    CASE WHEN cls=6 THEN '   '
         |         WHEN cls=7 THEN repeat('N', 257)
         |         WHEN cls=11 THEN ' New Name ' END AS new_name
         |  FROM b3),
         |rm AS (
         |  SELECT req_id, 0 AS ord, 'bad key!' AS key FROM reqs WHERE cls=8
         |  UNION ALL
         |  SELECT req_id, 0, 'b0' FROM reqs WHERE cls=11
         |  UNION ALL
         |  SELECT req_id, 1, 'rs' FROM reqs WHERE cls=11),
         |st AS (
         |  SELECT req_id, 0 AS ord, 'ok' AS key, chr(1)||'x' AS value
         |  FROM reqs WHERE cls=9
         |  UNION ALL
         |  SELECT req_id, i, 'k'||i, 'v' FROM reqs, range(0,130) t(i)
         |  WHERE cls=10
         |  UNION ALL
         |  SELECT req_id, 0, 'rs', 'v2' FROM reqs WHERE cls=11
         |  UNION ALL
         |  SELECT req_id, 1, 'nk', 'v3' FROM reqs WHERE cls=11),
         |usr AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS user_id,
         |         CASE WHEN c_custkey%53=0 THEN 'CORRUPT'
         |              ELSE 'U'||lpad(CAST(c_custkey AS VARCHAR), 6, '0')
         |              END AS stored_id,
         |         c_name AS name
         |  FROM customer),
         |battrs AS (
         |  SELECT 'U'||lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS user_id,
         |         'b'||j AS key
         |  FROM customer, range(0,5) t(j) WHERE j < (c_custkey%5)+1),
         |rmfail AS (
         |  SELECT req_id, 'InvalidAttributeKey:'||key AS rm_fail FROM rm
         |  WHERE NOT (length(key) BETWEEN 1 AND 128
         |             AND regexp_full_match(key, '[A-Za-z0-9._:-]+'))
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY req_id ORDER BY ord) = 1),
         |setfail AS (
         |  SELECT req_id,
         |    CASE WHEN NOT (length(key) BETWEEN 1 AND 128
         |                   AND regexp_full_match(key, '[A-Za-z0-9._:-]+'))
         |           THEN 'InvalidAttributeKey:'||key
         |         WHEN strlen(value) > 4096
         |              OR regexp_matches(value, '[\\x00-\\x1f\\x7f]')
         |           THEN 'InvalidAttributeValue:'||key END AS set_fail
         |  FROM st
         |  WHERE NOT (length(key) BETWEEN 1 AND 128
         |             AND regexp_full_match(key, '[A-Za-z0-9._:-]+'))
         |     OR strlen(value) > 4096
         |     OR regexp_matches(value, '[\\x00-\\x1f\\x7f]')
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY req_id ORDER BY ord) = 1),
         |nb AS (
         |  SELECT r.req_id, COUNT(*) AS n_base
         |  FROM reqs r JOIN battrs a ON a.user_id = r.target_user
         |  GROUP BY 1),
         |aft AS (
         |  SELECT req_id, COUNT(DISTINCT key) AS n_after FROM (
         |    SELECT r.req_id, a.key
         |    FROM reqs r JOIN battrs a ON a.user_id = r.target_user
         |    WHERE NOT EXISTS (SELECT 1 FROM rm
         |                      WHERE rm.req_id = r.req_id
         |                        AND rm.key = a.key)
         |    UNION ALL
         |    SELECT req_id, key FROM st)
         |  GROUP BY 1),
         |fin AS (
         |  SELECT r.*, u.stored_id, u.name AS stored_name,
         |    rf.rm_fail, sf.set_fail,
         |    COALESCE(af.n_after, n.n_base, 0) AS n_after,
         |    rd.stored_target,
         |    (r.target_realm <> 'r1' OR r.actor_user <> r.auth_user
         |     OR (r.auth_user = r.target_user AND r.restricted)
         |     OR (r.auth_user <> r.target_user AND NOT r.authorized))
         |      AS unauth,
         |    r.new_name IS NOT NULL AND
         |      (trim(r.new_name) = '' OR strlen(trim(r.new_name)) > 256)
         |      AS name_bad,
         |    rd.stored_target IS NOT NULL AND
         |      rd.stored_target <> 'user:'||r.target_user AS mismatch
         |  FROM reqs r
         |  LEFT JOIN usr u ON u.user_id = r.target_user
         |  LEFT JOIN rmfail rf USING (req_id)
         |  LEFT JOIN setfail sf USING (req_id)
         |  LEFT JOIN aft af USING (req_id)
         |  LEFT JOIN nb n USING (req_id)
         |  LEFT JOIN (SELECT 'U000149' AS user_id,
         |                    'other' AS stored_target) rd
         |    ON rd.user_id = r.target_user),
         |v AS (
         |  SELECT *,
         |    CASE WHEN unauth THEN 'Unauthorized'
         |         WHEN stored_id IS NULL THEN 'UserNotFound'
         |         WHEN stored_id <> target_user THEN 'UserIdMismatch'
         |         WHEN name_bad THEN 'InvalidUserName'
         |         WHEN rm_fail IS NOT NULL THEN rm_fail
         |         WHEN set_fail IS NOT NULL THEN set_fail
         |         WHEN n_after > 128 THEN 'TooManyAttributes'
         |         WHEN mismatch THEN 'TargetMismatch'
         |         ELSE 'Ok' END AS verdict
         |  FROM fin)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='Ok' THEN
         |    CASE WHEN new_name IS NOT NULL THEN trim(new_name)
         |         ELSE stored_name END END AS final_name,
         |  CAST(CASE WHEN verdict='Ok' THEN n_after END AS BIGINT)
         |    AS n_attrs
         |FROM v ORDER BY req_id""".stripMargin,

    "gm1_group_admin" ->
      s"""WITH base AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |         o_orderkey%4 AS opn, (o_orderkey//4)%9 AS cls,
         |         o_orderkey AS o
         |  FROM orders WHERE o_orderkey%43 = 17),
         |reqs AS (
         |  SELECT req_id,
         |    CASE opn WHEN 0 THEN 'add_role' WHEN 1 THEN 'remove_role'
         |         WHEN 2 THEN 'add_user' ELSE 'remove_user' END AS op,
         |    CASE WHEN cls=6 THEN 'GX' WHEN cls=7 THEN 'G9'
         |         WHEN cls=8 THEN 'G7' ELSE 'G'||(o%7) END AS group_id,
         |    'realm-'||(o%3) AS realm_id,
         |    CASE WHEN opn>=2 THEN
         |           CASE WHEN cls=0 THEN 'nil'
         |                WHEN opn=3 AND cls=3 THEN 'adm'||(o%7)
         |                ELSE 'm'||(o%12) END
         |         ELSE 'x' END AS user_id,
         |    CASE WHEN opn=3 AND cls=1 THEN
         |           CASE WHEN cls=0 THEN 'nil' ELSE 'm'||(o%12) END
         |         ELSE 'actor0' END AS actor_id,
         |    cls<>5 AS authorized,
         |    CASE WHEN opn=0 THEN
         |           CASE WHEN cls=0 THEN ' admin ' WHEN cls=1 THEN 'user'
         |                ELSE 'nr'||o END
         |         ELSE 'x' END AS role_name,
         |    CASE WHEN opn=1 THEN
         |           CASE WHEN cls=0 THEN 'r-none' WHEN cls=1 THEN 'r-admin'
         |                ELSE 'r-dev' END
         |         ELSE 'x' END AS role_id,
         |    (opn=3 AND (o%2=0 OR cls=2)) AS has_role_list,
         |    opn, cls, o
         |  FROM base),
         |reqroles AS (
         |  SELECT req_id, 'r-dev' AS role_id FROM base WHERE opn>=2
         |  UNION ALL
         |  SELECT req_id, CASE WHEN cls=1 THEN 'r-none' ELSE 'r-ops' END
         |  FROM base WHERE opn=2
         |  UNION ALL
         |  SELECT req_id, CASE WHEN cls=2 THEN 'r-none' ELSE 'r-admin' END
         |  FROM base WHERE opn=3),
         |requsers AS (
         |  SELECT req_id, 'm1' AS user_id FROM base WHERE opn=0
         |  UNION ALL
         |  SELECT req_id,
         |    CASE WHEN cls=2 THEN 'nil@realm-OTHER'
         |         WHEN cls=3 OR cls=4 THEN 'nil@realm-'||(o%3)
         |         ELSE 'm2' END
         |  FROM base WHERE opn=0),
         |reqperms AS (
         |  SELECT req_id, 'READ' AS permission FROM base WHERE opn=0
         |  UNION ALL
         |  SELECT req_id, 'WRITE' FROM base WHERE opn=0 AND cls<>4),
         |grps AS (SELECT 'G'||r AS group_id FROM range(0,10) t(r)),
         |docs AS (SELECT 'G'||r AS group_id FROM range(0,9) t(r)),
         |rolenames(role_id, role_name) AS (VALUES
         |  ('r-admin','admin'), ('r-dev','dev'), ('r-ops','ops')),
         |authroles AS (SELECT d.group_id, n.role_id, n.role_name
         |              FROM docs d, rolenames n),
         |assign AS (
         |  SELECT 'G'||g AS group_id, 'r-admin' AS role_id,
         |         'adm'||g AS user_id FROM range(0,9) t(g)
         |  UNION ALL
         |  SELECT 'G'||g, 'r-admin', 'adm9' FROM range(0,9) t(g)
         |  WHERE g%2=0
         |  UNION ALL
         |  SELECT 'G'||g, 'r-dev', 'm'||k FROM range(0,9) t(g),
         |       range(0,5) u(k)
         |  UNION ALL
         |  SELECT 'G'||g, 'r-ops', 'm'||k FROM range(0,9) t(g),
         |       range(2,7) u(k)),
         |useragg AS (
         |  SELECT u.req_id,
         |    bool_or(u.user_id LIKE 'nil@%' AND
         |            u.user_id <> 'nil@'||r.realm_id) AS bad_nil,
         |    bool_or(u.user_id = 'nil@'||r.realm_id) AS is_public,
         |    COUNT(*) AS n_assigned
         |  FROM requsers u JOIN reqs r USING (req_id) GROUP BY 1),
         |permagg AS (
         |  SELECT req_id, bool_or(permission <> 'READ') AS non_read
         |  FROM reqperms GROUP BY 1),
         |listagg AS (
         |  SELECT l.req_id,
         |    bool_or(a.role_id IS NULL) AS list_miss,
         |    COUNT(*) AS n_listed,
         |    bool_or(l.role_id = 'r-admin') AS list_has_admin
         |  FROM reqroles l
         |  JOIN reqs r USING (req_id)
         |  LEFT JOIN authroles a
         |    ON a.group_id = r.group_id AND a.role_id = l.role_id
         |  GROUP BY 1),
         |admincnt AS (
         |  SELECT a.group_id, COUNT(DISTINCT a.user_id) AS admin_n
         |  FROM assign a JOIN authroles x
         |    ON x.group_id = a.group_id AND x.role_id = a.role_id
         |  WHERE x.role_name = 'admin' GROUP BY 1),
         |peruser AS (
         |  SELECT a.group_id, a.user_id, COUNT(*) AS member_roles,
         |         bool_or(x.role_name = 'admin') AS in_admin
         |  FROM assign a JOIN authroles x
         |    ON x.group_id = a.group_id AND x.role_id = a.role_id
         |  GROUP BY 1, 2),
         |outsidelist AS (
         |  SELECT DISTINCT r.req_id, TRUE AS outside_list
         |  FROM assign a
         |  JOIN reqs r ON a.group_id = r.group_id AND a.user_id = r.user_id
         |    AND r.op = 'remove_user' AND r.has_role_list
         |  LEFT JOIN reqroles l
         |    ON l.req_id = r.req_id AND l.role_id = a.role_id
         |  WHERE l.role_id IS NULL),
         |fin AS (
         |  SELECT r.*,
         |    ua.bad_nil, ua.is_public, ua.n_assigned, pa.non_read,
         |    la.list_miss, la.n_listed, la.list_has_admin,
         |    g.group_id IS NOT NULL AS grp_ok,
         |    dd.group_id IS NOT NULL AS doc_ok,
         |    tr.role_name AS tgt_role_name,
         |    tr.role_id IS NOT NULL AS tgt_role_known,
         |    rd.stored_target, ac.admin_n,
         |    pu.member_roles, COALESCE(pu.in_admin, FALSE) AS in_admin,
         |    ol.outside_list,
         |    rd.stored_target IS NOT NULL AND
         |      rd.stored_target <> 'group:'||r.group_id AS mismatch,
         |    r.actor_id = r.user_id AS self_leave,
         |    pu.member_roles IS NOT NULL AS was_member
         |  FROM reqs r
         |  LEFT JOIN useragg ua USING (req_id)
         |  LEFT JOIN permagg pa USING (req_id)
         |  LEFT JOIN listagg la USING (req_id)
         |  LEFT JOIN grps g ON g.group_id = r.group_id
         |  LEFT JOIN docs dd ON dd.group_id = r.group_id
         |  LEFT JOIN authroles tr
         |    ON tr.group_id = r.group_id AND tr.role_id = r.role_id
         |  LEFT JOIN (SELECT 'G7' AS group_id, 'corrupt' AS stored_target)
         |    rd ON rd.group_id = r.group_id
         |  LEFT JOIN admincnt ac ON ac.group_id = r.group_id
         |  LEFT JOIN peruser pu
         |    ON pu.group_id = r.group_id AND pu.user_id = r.user_id
         |  LEFT JOIN outsidelist ol USING (req_id)),
         |v AS (
         |  SELECT *,
         |    in_admin AND
         |      (CASE WHEN has_role_list
         |            THEN COALESCE(list_has_admin, FALSE)
         |            ELSE in_admin END) AND admin_n = 1 AS last_admin,
         |    CASE op
         |      WHEN 'add_role' THEN
         |        CASE WHEN trim(role_name) IN ('admin','user')
         |               THEN 'ReservedRoleName'
         |             WHEN COALESCE(bad_nil, FALSE)
         |               THEN 'InvalidAssignedUser'
         |             WHEN COALESCE(is_public, FALSE) AND
         |                  COALESCE(non_read, FALSE)
         |               THEN 'InvalidPublicRole'
         |             WHEN NOT authorized THEN 'Unauthorized'
         |             WHEN NOT grp_ok OR NOT doc_ok THEN 'GroupNotFound'
         |             WHEN mismatch THEN 'TargetMismatch'
         |             ELSE 'Ok' END
         |      WHEN 'remove_role' THEN
         |        CASE WHEN NOT authorized THEN 'Unauthorized'
         |             WHEN NOT grp_ok THEN 'GroupNotFound'
         |             WHEN NOT doc_ok THEN 'AuthDocNotFound'
         |             WHEN NOT tgt_role_known THEN 'RoleNotFound'
         |             WHEN tgt_role_name = 'admin'
         |               THEN 'AdminRoleUndeletable'
         |             WHEN mismatch THEN 'TargetMismatch'
         |             ELSE 'Ok' END
         |      WHEN 'add_user' THEN
         |        CASE WHEN user_id = 'nil' THEN 'InvalidUserId'
         |             WHEN NOT authorized THEN 'Unauthorized'
         |             WHEN NOT doc_ok THEN 'AuthDocNotFound'
         |             WHEN COALESCE(list_miss, FALSE) THEN 'RoleNotFound'
         |             WHEN mismatch THEN 'TargetMismatch'
         |             ELSE 'Ok' END
         |      ELSE
         |        CASE WHEN user_id = 'nil' THEN 'InvalidUserId'
         |             WHEN NOT self_leave AND NOT authorized
         |               THEN 'Unauthorized'
         |             WHEN NOT doc_ok THEN 'AuthDocNotFound'
         |             WHEN has_role_list AND COALESCE(list_miss, FALSE)
         |               THEN 'RoleNotFound'
         |             WHEN mismatch THEN 'TargetMismatch'
         |             WHEN in_admin AND
         |                  (CASE WHEN has_role_list
         |                        THEN COALESCE(list_has_admin, FALSE)
         |                        ELSE in_admin END) AND admin_n = 1
         |               THEN 'LastAdmin'
         |             ELSE 'Ok' END
         |    END AS verdict
         |  FROM fin)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op IN ('add_user','remove_user')
         |       THEN was_member END AS was_member,
         |  CASE WHEN verdict='Ok' AND op='add_user'
         |       THEN NOT was_member END AS newly_added,
         |  CASE WHEN verdict='Ok' AND op='remove_user'
         |       THEN CASE WHEN has_role_list
         |                 THEN COALESCE(outside_list, FALSE)
         |                 ELSE FALSE END END AS still_member,
         |  CAST(CASE WHEN verdict='Ok' AND op='add_user' THEN n_listed
         |            WHEN verdict='Ok' AND op='remove_user' THEN
         |              CASE WHEN has_role_list THEN n_listed
         |                   ELSE COALESCE(member_roles, 0) END
         |       END AS BIGINT) AS n_roles,
         |  CASE WHEN verdict='Ok' AND op='add_role'
         |       THEN COALESCE(is_public, FALSE) END AS role_public,
         |  CAST(CASE WHEN verdict='Ok' AND op='add_role'
         |            THEN COALESCE(n_assigned, 0) END AS BIGINT)
         |    AS n_assigned
         |FROM v ORDER BY req_id""".stripMargin,

    "ua1_user_access" ->
      s"""WITH creds AS (
         |  SELECT 'AK'||lpad(CAST(c_custkey AS VARCHAR), 8, '0')
         |           AS access_key,
         |         'u'||(c_custkey%50) AS user_id,
         |         'grp-'||(c_custkey%5) AS group_id,
         |         CAST(1700000000000 + ((c_custkey%200)-100)*86400000
         |              AS BIGINT) AS expiry_ms,
         |         CAST(CASE WHEN c_custkey%7=0
         |                   THEN 1699990000000 + c_custkey%1000 END
         |              AS BIGINT) AS revoked_at_ms
         |  FROM customer),
         |reqs AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |    CASE o_orderkey%4 WHEN 0 THEN 'create' WHEN 1 THEN 'get'
         |         WHEN 2 THEN 'revoke' ELSE 'list' END AS op,
         |    CASE WHEN o_orderkey%4 = 0 THEN
         |           CASE o_orderkey%5
         |                WHEN 0 THEN ''
         |                WHEN 1 THEN repeat('K', 129)
         |                WHEN 2 THEN 'bad-key!'
         |                WHEN 3 THEN 'AK'||lpad(CAST((o_orderkey%149)+1
         |                                            AS VARCHAR), 8, '0')
         |                ELSE 'ok'||o_orderkey END
         |         WHEN o_orderkey%4 IN (1, 2) THEN
         |           CASE WHEN o_orderkey%3 = 0
         |                THEN 'AK'||lpad(CAST((o_orderkey%149)+1
         |                                     AS VARCHAR), 8, '0')
         |                ELSE 'AKX'||o_orderkey END
         |         ELSE 'x' END AS key_id,
         |    'u'||(o_orderkey%60) AS user_id,
         |    CAST(1700000000000 + (o_orderkey%5)*1000 AS BIGINT) AS now_ms
         |  FROM orders WHERE o_orderkey%41 = 11),
         |byuser AS (
         |  SELECT user_id, COUNT(*) AS n_creds FROM creds GROUP BY 1),
         |j AS (
         |  SELECT r.*, c.user_id AS c_user, c.expiry_ms, c.revoked_at_ms,
         |         u.n_creds
         |  FROM reqs r
         |  LEFT JOIN creds c ON r.key_id = c.access_key
         |  LEFT JOIN byuser u ON r.user_id = u.user_id),
         |v AS (
         |  SELECT *,
         |    CASE WHEN op = 'create' THEN
         |           CASE WHEN length(key_id) = 0 OR length(key_id) > 128
         |                  THEN 'InvalidLength'
         |                WHEN regexp_matches(key_id, '[^0-9A-Za-z]')
         |                  THEN 'NotAlphanumeric'
         |                ELSE 'Ok' END
         |         WHEN op = 'list' THEN 'Ok'
         |         WHEN c_user IS NULL THEN 'NotFound'
         |         ELSE 'Ok' END AS verdict
         |  FROM j)
         |SELECT req_id, op, verdict,
         |  CASE WHEN verdict='Ok' AND op='create'
         |       THEN now_ms + 31536000000 END AS new_expiry_ms,
         |  CASE WHEN verdict='Ok' AND op='get'
         |       THEN expiry_ms <= now_ms END AS expired,
         |  CASE WHEN verdict='Ok' AND op='get'
         |       THEN revoked_at_ms IS NOT NULL END AS revoked,
         |  CASE WHEN verdict='Ok' AND op='revoke'
         |       THEN revoked_at_ms IS NULL END AS revoked_now,
         |  CASE WHEN verdict='Ok' AND op='revoke'
         |       THEN COALESCE(revoked_at_ms, now_ms) END AS revoked_at_out,
         |  CASE WHEN verdict='Ok' AND op='list'
         |       THEN COALESCE(n_creds, 0) END AS n_creds
         |FROM v ORDER BY req_id""".stripMargin,

    "bc1_put_bucket_cors" ->
      s"""WITH ${ObjectTables.bucketsCte},
         |base AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |         o_orderkey AS o, o_orderkey%12 AS k
         |  FROM orders WHERE o_orderkey%37 = 7),
         |reqs AS (
         |  SELECT req_id, CASE WHEN k=10 THEN 'bkt-9'
         |                      ELSE 'bkt-'||(o%4) END AS bucket
         |  FROM base),
         |rules AS (
         |  SELECT req_id, CAST(0 AS BIGINT) AS rule_ord,
         |    CAST(CASE WHEN k=3 THEN -1 WHEN o%3=0 THEN NULL
         |              ELSE 3600 END AS BIGINT) AS max_age
         |  FROM base WHERE k<>0
         |  UNION ALL
         |  SELECT req_id, 1, NULL FROM base WHERE k<>0),
         |vals AS (
         |  SELECT req_id, 0 AS rule_ord, 'method' AS field, 0 AS val_ord,
         |         ' get ' AS value FROM base WHERE k<>0
         |  UNION ALL
         |  SELECT req_id, 0, 'method', 1, 'Put' FROM base WHERE k<>0
         |  UNION ALL
         |  SELECT req_id, 0, 'origin', 0, ' https://a.example ' FROM base
         |  WHERE k<>0
         |  UNION ALL
         |  SELECT req_id, 0, 'origin', 1, '*' FROM base WHERE k<>0
         |  UNION ALL
         |  SELECT req_id, 1, 'method', 0,
         |         CASE WHEN k=5 THEN '  ' WHEN k=6 THEN 'PATCH'
         |              ELSE 'post' END
         |  FROM base WHERE k<>0 AND k<>1
         |  UNION ALL
         |  SELECT req_id, 1, 'method', 1, 'delete' FROM base
         |  WHERE k<>0 AND k<>1
         |  UNION ALL
         |  SELECT req_id, 1, 'origin', 0,
         |         CASE WHEN k=7 OR k=6 THEN ' '
         |              ELSE 'https://b.example' END
         |  FROM base WHERE k<>0 AND k<>2
         |  UNION ALL
         |  SELECT req_id, 1, 'allowed_header', 0,
         |         CASE WHEN k=8 THEN ' ' ELSE ' X-Ok ' END
         |  FROM base WHERE k=8 OR k=11
         |  UNION ALL
         |  SELECT req_id, 1, 'expose_header', 0,
         |         CASE WHEN k=9 THEN ' ' ELSE 'ETag' END
         |  FROM base WHERE k=9 OR k=11),
         |vv AS (
         |  SELECT *,
         |    CASE field WHEN 'method' THEN 0 WHEN 'origin' THEN 1
         |         WHEN 'allowed_header' THEN 2 ELSE 3 END AS field_rank,
         |    CASE WHEN trim(value) = ''
         |           THEN 'MalformedXML:empty_'||field
         |         WHEN field='method' AND upper(trim(value)) NOT IN
         |              ('GET','PUT','HEAD','POST','DELETE')
         |           THEN 'MalformedXML:invalid_method' END AS vfail,
         |    rule_ord||':'||field||':'||
         |      (CASE WHEN field='method' THEN upper(trim(value))
         |            ELSE trim(value) END) AS piece
         |  FROM vals),
         |perrule AS (
         |  SELECT req_id, rule_ord,
         |         bool_or(field='method') AS has_m,
         |         bool_or(field='origin') AS has_o
         |  FROM vv GROUP BY 1, 2),
         |vfirst AS (
         |  SELECT req_id, rule_ord, vfail FROM vv WHERE vfail IS NOT NULL
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY req_id, rule_ord
         |            ORDER BY field_rank, val_ord) = 1),
         |rulev AS (
         |  SELECT r.req_id, r.rule_ord,
         |    CASE WHEN NOT COALESCE(p.has_m, FALSE) OR
         |              NOT COALESCE(p.has_o, FALSE)
         |           THEN 'MalformedXML:methods_origins'
         |         WHEN r.max_age < 0 THEN 'MalformedXML:negative_max_age'
         |         ELSE f.vfail END AS rule_fail
         |  FROM rules r
         |  LEFT JOIN perrule p USING (req_id, rule_ord)
         |  LEFT JOIN vfirst f USING (req_id, rule_ord)),
         |reqv AS (
         |  SELECT req_id, COUNT(*) AS n_rules FROM rulev GROUP BY 1),
         |ffail AS (
         |  SELECT req_id, rule_fail AS first_fail FROM rulev
         |  WHERE rule_fail IS NOT NULL
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY req_id
         |                             ORDER BY rule_ord) = 1),
         |sig AS (
         |  SELECT req_id, md5(string_agg(piece, '|'
         |           ORDER BY rule_ord, field_rank, val_ord)) AS norm_sig
         |  FROM vv GROUP BY 1),
         |fin AS (
         |  SELECT q.req_id,
         |    CASE WHEN rv.n_rules IS NULL THEN 'MalformedXML:no_rules'
         |         WHEN ff.first_fail IS NOT NULL THEN ff.first_fail
         |         WHEN b.bucket IS NULL THEN 'NotFound'
         |         ELSE 'Ok' END AS verdict,
         |    rv.n_rules, sg.norm_sig
         |  FROM reqs q
         |  LEFT JOIN reqv rv USING (req_id)
         |  LEFT JOIN ffail ff USING (req_id)
         |  LEFT JOIN buckets b USING (bucket)
         |  LEFT JOIN sig sg USING (req_id))
         |SELECT req_id, verdict,
         |  CASE WHEN verdict = 'Ok' THEN CAST(n_rules AS BIGINT) END
         |    AS n_rules,
         |  CASE WHEN verdict = 'Ok' THEN norm_sig END AS norm_sig
         |FROM fin ORDER BY req_id""".stripMargin,

    "sq1_set_quota" ->
      s"""WITH base AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS req_id,
         |         o_orderkey AS o, o_orderkey%11 AS k
         |  FROM orders WHERE o_orderkey%31 = 5),
         |reqs AS (
         |  SELECT req_id,
         |    CASE WHEN k=8 THEN 'realm-x' WHEN k=9 THEN 'realm-t'
         |         ELSE 'realm-'||(o%4) END AS realm_id,
         |    CAST(CASE WHEN k=0 THEN 0 WHEN k=1 THEN 101 ELSE 85 END
         |         AS BIGINT) AS warn_pct,
         |    CAST(CASE WHEN k=2 THEN 99 ELSE 110 END AS BIGINT) AS grace_pct,
         |    k=3 AS has_max_devices,
         |    CAST(CASE WHEN o%3=0 THEN NULL ELSE ((o%5)+1)*1000000 END
         |         AS BIGINT) AS default_quota_bytes
         |  FROM base),
         |ovr AS (
         |  SELECT req_id, ord,
         |    CASE WHEN k=4 AND ord=2 THEN 'g'||(o%5)
         |         ELSE 'g'||((o+ord)%5) END AS group_id,
         |    CAST(CASE WHEN k=6 AND ord=1 THEN NULL
         |              ELSE (ord+1)*1000000 END AS BIGINT) AS quota_bytes,
         |    CAST(CASE WHEN k=5 AND ord=1 THEN 90
         |              WHEN k=6 AND ord=1 THEN 120
         |              WHEN k=10 AND ord=2 THEN 150 END AS BIGINT) AS grace
         |  FROM base, range(0,3) t(ord)),
         |caps AS (
         |  SELECT req_id, ord,
         |    CASE WHEN k=7 THEN 'u-dup' ELSE 'u'||((o+ord)%7) END AS user_id
         |  FROM base, range(0,2) t(ord)),
         |realms AS (
         |  SELECT CASE WHEN r=4 THEN 'realm-t' ELSE 'realm-'||r END
         |           AS realm_id
         |  FROM range(0,5) t(r)),
         |ofail AS (
         |  SELECT req_id,
         |    CASE WHEN dup THEN 'InvalidQuota:dup_group_override'
         |         WHEN grace IS NOT NULL AND grace < 100
         |           THEN 'InvalidQuota:override_grace'
         |         ELSE 'InvalidQuota:grace_without_quota' END AS ovr_reason
         |  FROM (SELECT *,
         |          ROW_NUMBER() OVER (PARTITION BY req_id, group_id
         |                             ORDER BY ord) > 1 AS dup
         |        FROM ovr)
         |  WHERE dup OR (grace IS NOT NULL AND grace < 100)
         |     OR (grace IS NOT NULL AND quota_bytes IS NULL)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY req_id ORDER BY ord) = 1),
         |cfail AS (
         |  SELECT DISTINCT req_id, 'InvalidQuota:dup_user_cap' AS cap_reason
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY req_id, user_id
         |                                     ORDER BY ord) > 1 AS dup
         |        FROM caps) WHERE dup),
         |probe AS (
         |  SELECT req_id, quota_bytes AS p_quota, grace AS p_grace,
         |         TRUE AS p_has
         |  FROM ovr WHERE group_id = 'g1'
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY req_id ORDER BY ord) = 1),
         |fin AS (
         |  SELECT r.req_id,
         |    CASE WHEN r.warn_pct < 1 OR r.warn_pct > 100
         |           THEN 'InvalidQuota:warn_threshold'
         |         WHEN r.grace_pct < 100 THEN 'InvalidQuota:grace_factor'
         |         WHEN r.has_max_devices THEN 'InvalidQuota:max_devices'
         |         WHEN o.ovr_reason IS NOT NULL THEN o.ovr_reason
         |         WHEN c.cap_reason IS NOT NULL THEN c.cap_reason
         |         WHEN rl.realm_id IS NULL THEN 'RealmConfigNotFound'
         |         WHEN rd.stored_target IS NOT NULL AND
         |              rd.stored_target <> 'realm-config:'||r.realm_id
         |           THEN 'TargetMismatch'
         |         ELSE 'Ok' END AS verdict,
         |    p.p_has, p.p_quota, p.p_grace, r.grace_pct,
         |    r.default_quota_bytes
         |  FROM reqs r
         |  LEFT JOIN ofail o USING (req_id)
         |  LEFT JOIN cfail c USING (req_id)
         |  LEFT JOIN realms rl USING (realm_id)
         |  LEFT JOIN (SELECT 'realm-t' AS realm_id,
         |                    'other-target' AS stored_target) rd
         |    USING (realm_id)
         |  LEFT JOIN probe p USING (req_id))
         |SELECT req_id, verdict,
         |  CASE WHEN verdict = 'Ok' THEN CAST(3 AS BIGINT) END AS n_overrides,
         |  CASE WHEN verdict = 'Ok' THEN
         |    CASE WHEN p_has THEN
         |           CAST(p_quota * COALESCE(p_grace, grace_pct) // 100
         |                AS BIGINT)
         |         ELSE CAST(default_quota_bytes * grace_pct // 100 AS BIGINT)
         |    END END AS probe_ceiling
         |FROM fin ORDER BY req_id""".stripMargin,

    "nf1_unread_counts" ->
      s"""WITH ${NotificationTables.inboxCte},
         |totals AS (SELECT recipient, COUNT(*) AS total FROM inbox GROUP BY 1),
         |scanned AS (
         |  SELECT * FROM inbox
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY recipient
         |            ORDER BY created_at_ms DESC, notification_id)
         |          <= ${Notifications.UnreadScanMaxRows}),
         |u AS (SELECT recipient,
         |        COUNT(CASE WHEN read_at_ms IS NULL THEN 1 END) AS u
         |      FROM scanned GROUP BY 1)
         |SELECT u.recipient,
         |       least(u.u, ${Notifications.UnreadCountCap}) AS n_unread,
         |       u.u > ${Notifications.UnreadCountCap}
         |         OR t.total > ${Notifications.UnreadScanMaxRows} AS capped
         |FROM u JOIN totals t USING (recipient)
         |ORDER BY recipient""".stripMargin,

    "nf2_list_notifications" -> {
      def page(label: String, where: String, lim: Int): String =
        s"""${label}b AS (SELECT * FROM ib $where
           |  ORDER BY created_at_ms DESC, notification_id LIMIT ${lim + 1}),
           |${label}r AS (SELECT *,
           |    ROW_NUMBER() OVER (ORDER BY created_at_ms DESC, notification_id) AS rn,
           |    COUNT(*) OVER () AS n
           |  FROM ${label}b),
           |$label AS (SELECT created_at_ms, notification_id,
           |    read_at_ms IS NOT NULL AS read,
           |    n = ${lim + 1} AS is_truncated,
           |    CASE WHEN n = ${lim + 1} THEN
           |      MAX(CASE WHEN rn = $lim THEN created_at_ms END) OVER () END
           |      AS next_cursor_ts,
           |    CASE WHEN n = ${lim + 1} THEN
           |      MAX(CASE WHEN rn = $lim THEN notification_id END) OVER () END
           |      AS next_cursor_id,
           |    '$label' AS page
           |  FROM ${label}r WHERE rn <= $lim)""".stripMargin
      s"""WITH ${NotificationTables.inboxCte},
         |ib AS (SELECT * FROM inbox WHERE recipient = 'u2'),
         |${page("p1", "", 5)},
         |${page("p2",
          """WHERE created_at_ms < 1700004997000
            |   OR (created_at_ms = 1700004997000
            |       AND notification_id > '000000104997')""".stripMargin, 8)}
         |SELECT * FROM p1 UNION ALL SELECT * FROM p2
         |ORDER BY page, created_at_ms DESC, notification_id""".stripMargin
    },

    "nf3_prune_plan" -> {
      val now = 1700000000000L + Notifications.TransientTtlMs + 2500000L
      s"""WITH ${NotificationTables.inboxCte},
         |ib AS (SELECT *,
         |         CASE WHEN CAST(notification_id AS BIGINT)%7 < 2
         |              THEN 'Direct' ELSE 'Transient' END AS class
         |       FROM inbox),
         |x AS (SELECT *,
         |        created_at_ms + CASE WHEN class='Direct'
         |          THEN ${Notifications.DirectTtlMs}
         |          ELSE ${Notifications.TransientTtlMs} END <= $now AS expired
         |      FROM ib),
         |r AS (SELECT *,
         |        SUM(CASE WHEN class='Transient' AND NOT expired THEN 1
         |                 ELSE 0 END)
         |          OVER (PARTITION BY recipient
         |                ORDER BY created_at_ms DESC, notification_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS t_rank
         |      FROM x),
         |v AS (SELECT recipient, class,
         |        CASE WHEN expired THEN 'expired'
         |             WHEN class='Transient'
         |                  AND t_rank > ${Notifications.TransientPerUserCap}
         |               THEN 'capped'
         |             ELSE 'kept' END AS verdict
         |      FROM r)
         |SELECT recipient, class, verdict, COUNT(*) AS n
         |FROM v GROUP BY 1, 2, 3
         |ORDER BY recipient, class, verdict""".stripMargin
    },

    "rc1_reclaim_sweep" ->
      s"""WITH ${ObjectTables.objectsCte},
         |cand AS (SELECT md5(CAST(r AS VARCHAR)) AS blake3,
         |    CASE WHEN r%11=0 THEN 'b2'
         |         WHEN r%7=3 THEN CASE WHEN r%2=0 THEN 's3' ELSE 'fs' END
         |         ELSE CASE WHEN r%2=0 THEN 'fs' ELSE 's3' END END AS backend,
         |    1700000000 - (r*73)%7200 AS enqueued_s
         |  FROM range(0,200) t(r)),
         |locs AS (SELECT md5(CAST(r AS VARCHAR)) AS blake3,
         |    CASE WHEN r%2=0 THEN 'fs' ELSE 's3' END AS backend,
         |    CAST(r*1000+17 AS BIGINT) AS size
         |  FROM range(0,150) t(r)),
         |strat(backend, grace_s) AS (VALUES
         |  ('fs', CAST(900 AS BIGINT)), ('s3', CAST(3600 AS BIGINT))),
         |refs AS (SELECT DISTINCT l.blake3, l.backend
         |         FROM (SELECT DISTINCT hash FROM objects
         |               WHERE NOT is_delete_marker) o
         |         JOIN locs l ON l.blake3 = o.hash),
         |j AS (SELECT c.backend, c.enqueued_s, s.grace_s, l.size AS loc_size,
         |        (r.blake3 IS NOT NULL) AS is_pinned
         |      FROM cand c
         |      LEFT JOIN strat s USING (backend)
         |      LEFT JOIN locs l ON l.blake3=c.blake3 AND l.backend=c.backend
         |      LEFT JOIN refs r ON r.blake3=c.blake3 AND r.backend=c.backend),
         |v AS (SELECT backend,
         |        CASE WHEN grace_s IS NULL THEN 'Dropped'
         |             WHEN enqueued_s + grace_s > 1700000000 THEN 'NotDue'
         |             WHEN loc_size IS NULL THEN 'Dropped'
         |             WHEN is_pinned THEN 'Pinned'
         |             ELSE 'Freed' END AS verdict,
         |        loc_size
         |      FROM j)
         |SELECT backend, verdict, COUNT(*) AS n,
         |       CAST(SUM(CASE WHEN verdict='Freed' THEN loc_size ELSE 0 END)
         |            AS BIGINT) AS freed_bytes
         |FROM v GROUP BY 1, 2
         |ORDER BY backend, verdict""".stripMargin,

    "cat13_delete_objects" ->
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |sel AS (SELECT *, (version_ord//13)%4 AS c FROM versions
         |        WHERE version_ord%13=0),
         |req AS (
         |  SELECT bucket, key, CAST(NULL AS VARCHAR) AS req_version,
         |         'T'||version_ulid AS tomb FROM sel WHERE c=0
         |  UNION ALL
         |  SELECT bucket, key, version_ulid, NULL FROM sel WHERE c=1
         |  UNION ALL
         |  SELECT bucket, key,
         |         lpad(CAST(version_ord - version_ord%10 + 9 AS VARCHAR), 12, '0'),
         |         NULL FROM sel WHERE c=2
         |  UNION ALL
         |  SELECT bucket, key||'.x', NULL, 'T'||version_ulid FROM sel WHERE c=3),
         |rk AS (SELECT bucket, key, version_ulid,
         |         ROW_NUMBER() OVER (PARTITION BY bucket, key
         |                            ORDER BY version_ord DESC, hash DESC) AS rn
         |       FROM versions),
         |top2 AS (SELECT bucket, key,
         |           MAX(CASE WHEN rn=1 THEN version_ulid END) AS latest_v,
         |           MAX(CASE WHEN rn=2 THEN version_ulid END) AS second_v
         |         FROM rk WHERE rn<=2 GROUP BY 1, 2),
         |j AS (SELECT r.*, v.is_delete_marker AS t_marker, t.latest_v, t.second_v
         |      FROM req r
         |      LEFT JOIN versions v ON r.bucket=v.bucket AND r.key=v.key
         |                          AND r.req_version=v.version_ulid
         |      LEFT JOIN top2 t ON r.bucket=t.bucket AND r.key=t.key)
         |SELECT bucket, key, req_version,
         |  CASE WHEN req_version IS NULL THEN 'OK'
         |       WHEN t_marker IS NULL THEN 'NoSuchVersion' ELSE 'OK' END AS verdict,
         |  CASE WHEN req_version IS NULL THEN TRUE
         |       WHEN t_marker IS NOT NULL THEN t_marker END AS delete_marker,
         |  CASE WHEN req_version IS NULL THEN tomb
         |       WHEN t_marker IS NOT NULL THEN req_version END AS result_version,
         |  CASE WHEN req_version IS NOT NULL AND t_marker IS NOT NULL
         |       THEN req_version = latest_v END AS was_latest,
         |  CASE WHEN req_version IS NOT NULL AND t_marker IS NOT NULL
         |       THEN CASE WHEN req_version = latest_v THEN second_v
         |                 ELSE latest_v END END AS new_latest
         |FROM j
         |ORDER BY bucket, key, COALESCE(req_version, ''),
         |         COALESCE(result_version, '')""".stripMargin,

    "ck1_composite_checksums" ->
      s"""WITH ${ObjectTables.partsCte},
         |comps AS (
         |  SELECT upload_id,
         |    md5(string_agg(hash, '' ORDER BY part_number)) AS composite,
         |    CAST(COUNT(*) AS INT) AS n_parts,
         |    CAST(upload_id AS BIGINT) AS uo
         |  FROM parts GROUP BY upload_id),
         |sel AS (SELECT * FROM comps WHERE uo%89 = 4),
         |decl AS (
         |  SELECT upload_id,
         |    CASE uo%6
         |      WHEN 0 THEN composite||'-'||n_parts
         |      WHEN 1 THEN composite||'-'||(n_parts+1)
         |      WHEN 2 THEN composite||'-'
         |      WHEN 3 THEN composite||'-x'
         |      WHEN 4 THEN composite
         |      ELSE 'deadbeefdeadbeefdeadbeefdeadbeef' END AS declared
         |  FROM sel
         |  UNION ALL
         |  SELECT 'zz'||upload_id, composite FROM sel WHERE uo%13 = 4),
         |j AS (
         |  SELECT d.upload_id, d.declared, c.composite, c.n_parts,
         |    CASE WHEN d.declared LIKE '%-%' THEN
         |      regexp_extract(d.declared, '^(.*)-([^-]*)$$', 2) END
         |      AS suffix,
         |    CASE WHEN d.declared LIKE '%-%' THEN
         |      regexp_extract(d.declared, '^(.*)-([^-]*)$$', 1)
         |      ELSE d.declared END AS decl_digest
         |  FROM decl d LEFT JOIN comps c ON c.upload_id = d.upload_id)
         |SELECT upload_id, declared, composite, n_parts,
         |  CASE WHEN composite IS NULL THEN 'no_such_upload'
         |    WHEN suffix IS NOT NULL
         |      AND NOT regexp_matches(suffix, '^[0-9]+$$')
         |      THEN 'invalid_digest'
         |    WHEN suffix IS NOT NULL
         |      AND TRY_CAST(suffix AS INT) <> n_parts
         |      THEN 'checksum_mismatch'
         |    WHEN decl_digest <> composite THEN 'checksum_mismatch'
         |    ELSE 'ok' END AS verdict
         |FROM j ORDER BY upload_id, declared""".stripMargin,

    "rg1_range_resolve" ->
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |hd AS (SELECT * FROM versions
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket, key
         |                 ORDER BY version_ord DESC, hash DESC) = 1),
         |sel AS (SELECT * FROM versions WHERE version_ord%53 = 0),
         |req AS (
         |  SELECT 'r:'||bucket||'/'||key||'@'||version_ord AS req_id,
         |    bucket, key,
         |    CASE version_ord%9 WHEN 0 THEN 'bytes=2-5'
         |      WHEN 1 THEN 'bytes=0-' WHEN 2 THEN 'bytes=-4'
         |      WHEN 3 THEN 'bytes=5-2' WHEN 4 THEN 'bytes=999999-'
         |      WHEN 5 THEN 'bytes=10-999999' WHEN 6 THEN 'garbage'
         |      WHEN 7 THEN NULL ELSE 'bytes=-0' END AS range_raw
         |  FROM sel
         |  UNION ALL
         |  SELECT 'm:'||bucket||'/'||key, bucket, key||'.gone',
         |    'bytes=0-1'
         |  FROM sel WHERE version_ord%106 = 0),
         |j AS (
         |  SELECT r.req_id, r.bucket, r.key, r.range_raw,
         |    h.is_delete_marker AS h_marker, h.size AS len
         |  FROM req r LEFT JOIN hd h ON h.bucket = r.bucket
         |    AND h.key = r.key),
         |p AS (
         |  SELECT *,
         |    CASE WHEN range_raw IS NULL THEN 'none'
         |      WHEN regexp_matches(range_raw, '^bytes=[0-9]+-[0-9]+$$')
         |        THEN 'start_end'
         |      WHEN regexp_matches(range_raw, '^bytes=[0-9]+-$$')
         |        THEN 'start'
         |      WHEN regexp_matches(range_raw, '^bytes=-[0-9]+$$')
         |        THEN 'suffix'
         |      ELSE 'ignored' END AS form,
         |    TRY_CAST(regexp_extract(range_raw, '^bytes=([0-9]+)-', 1)
         |      AS BIGINT) AS a,
         |    TRY_CAST(regexp_extract(range_raw, '^bytes=[0-9]+-([0-9]+)$$', 1)
         |      AS BIGINT) AS b,
         |    TRY_CAST(regexp_extract(range_raw, '^bytes=-([0-9]+)$$', 1)
         |      AS BIGINT) AS sfx
         |  FROM j),
         |q AS (
         |  SELECT *,
         |    CASE WHEN form IN ('start_end','start') THEN a
         |      WHEN form = 'suffix' THEN greatest(len - sfx, 0) END
         |      AS rstart,
         |    CASE WHEN form = 'start_end' THEN least(b, len - 1) + 1
         |      WHEN form IN ('start','suffix') THEN len END AS rend,
         |    (len = 0 AND form IN ('start_end','start','suffix'))
         |      OR (form = 'start_end' AND (a > b OR a >= len))
         |      OR (form = 'start' AND a >= len)
         |      OR (form = 'suffix' AND sfx = 0) AS invalid
         |  FROM p),
         |v AS (
         |  SELECT *,
         |    CASE WHEN len IS NULL OR h_marker THEN 'no_such_key'
         |      WHEN invalid THEN 'invalid_range'
         |      WHEN form IN ('start_end','start','suffix') THEN 'partial'
         |      ELSE 'full' END AS verdict
         |  FROM q)
         |SELECT req_id, bucket, key, verdict,
         |  CASE WHEN verdict = 'partial' THEN rstart END AS start,
         |  CASE WHEN verdict = 'partial' THEN rend - 1 END AS end_incl,
         |  CASE WHEN verdict = 'partial' THEN rend - rstart
         |       WHEN verdict = 'full' THEN len END AS content_length,
         |  CASE WHEN verdict = 'partial' THEN
         |    'bytes '||rstart||'-'||(rend-1)||'/'||len END AS content_range
         |FROM v ORDER BY req_id""".stripMargin,

    "cat15_head_object" ->
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |hd AS (SELECT * FROM versions
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket, key
         |                 ORDER BY version_ord DESC, hash DESC) = 1),
         |summ AS (
         |  SELECT version_ulid,
         |    CAST(size//8192 + 1 AS INT) AS part_count
         |  FROM versions WHERE version_ord%7 = 0),
         |req AS (
         |  SELECT 'v0:'||bucket||'/'||key||'@'||version_ulid AS req_id,
         |    bucket, key, version_ulid AS version_id
         |  FROM versions WHERE version_ord%57 = 0
         |  UNION ALL
         |  SELECT 'v1:'||bucket||'/'||key||'@'||version_ulid, bucket, key,
         |    lpad(CAST(version_ord - version_ord%10 + 9 AS VARCHAR), 12,
         |      '0')
         |  FROM versions WHERE version_ord%59 = 0
         |  UNION ALL
         |  SELECT DISTINCT 'h0:'||bucket||'/'||key, bucket, key, NULL
         |  FROM versions WHERE version_ord%51 = 0
         |  UNION ALL
         |  SELECT DISTINCT 'h1:'||bucket||'/'||key, bucket, key||'.nope',
         |    NULL
         |  FROM versions WHERE version_ord%101 = 0),
         |x AS (
         |  SELECT r.req_id, r.version_id,
         |    bv.is_delete_marker AS v_marker, bv.hash AS v_etag,
         |    bv.size AS v_size,
         |    hh.version_ulid AS h_version,
         |    hh.is_delete_marker AS h_marker, hh.hash AS h_etag,
         |    hh.size AS h_size
         |  FROM req r
         |  LEFT JOIN versions bv ON bv.bucket = r.bucket
         |    AND bv.key = r.key AND bv.version_ulid = r.version_id
         |  LEFT JOIN hd hh ON hh.bucket = r.bucket AND hh.key = r.key),
         |v AS (
         |  SELECT *,
         |    CASE WHEN version_id IS NOT NULL AND v_etag IS NULL
         |        THEN 'no_such_version'
         |      WHEN version_id IS NOT NULL AND v_marker
         |        THEN 'delete_marker'
         |      WHEN version_id IS NULL AND h_version IS NULL
         |        THEN 'no_such_key'
         |      WHEN version_id IS NULL AND h_marker THEN 'no_such_key'
         |      ELSE 'ok' END AS verdict,
         |    COALESCE(version_id, h_version) AS resolved
         |  FROM x)
         |SELECT v.req_id, v.verdict,
         |  CASE WHEN v.verdict = 'ok' THEN v.resolved END
         |    AS resolved_version,
         |  CASE WHEN v.verdict = 'ok' THEN
         |    CASE WHEN v.version_id IS NOT NULL THEN v.v_etag
         |         ELSE v.h_etag END END AS etag,
         |  CASE WHEN v.verdict = 'ok' THEN
         |    CASE WHEN v.version_id IS NOT NULL THEN v.v_size
         |         ELSE v.h_size END END AS size,
         |  s.part_count
         |FROM v LEFT JOIN summ s ON s.version_ulid = v.resolved
         |  AND v.verdict = 'ok'
         |ORDER BY v.req_id""".stripMargin,

    "cat16_list_versions_paged" -> {
      // one section of the paged ListObjectVersions oracle: head window,
      // state ladder + location join, delimiter grouping, marker resume,
      // bounded page + last-row trailer
      def sect(tag: String, prefix: String, delim: Boolean,
          km: Option[String], vm: Option[String], maxK: Int): String = {
        val L = prefix.length
        val cp = if (delim)
          s"CASE WHEN strpos(substr(key, ${L + 1}), '/') > 0 THEN '$prefix' || " +
            s"substr(substr(key, ${L + 1}), 1, strpos(substr(key, ${L + 1}), '/')) END"
        else "CAST(NULL AS VARCHAR)"
        val marker = (km, vm) match {
          case (Some(k), Some(v)) =>
            s"(coalesce(cp, key) > '$k' OR (cp IS NULL AND key = '$k' AND version_ulid < '$v'))"
          case (Some(k), None) => s"coalesce(cp, key) > '$k'"
          case _ => "TRUE"
        }
        s"""${tag}v AS (
           |  SELECT v.*, (ROW_NUMBER() OVER (PARTITION BY bucket, key
           |           ORDER BY version_ord DESC, hash DESC)) = 1 AS is_latest,
           |         $cp AS cp
           |  FROM versions v WHERE bucket='bkt-1' AND key LIKE '$prefix%'),
           |${tag}l AS (
           |  SELECT sv.*, l.backend AS loc_backend,
           |         NOT is_delete_marker AND version_ord%7=3 AS is_ref,
           |         NOT is_delete_marker AND NOT version_ord%7=3 AS is_mat
           |  FROM ${tag}v sv LEFT JOIN loc l ON sv.hash = l.blake3
           |  WHERE (is_delete_marker OR version_ord%7=3 OR l.backend IS NOT NULL)
           |    AND $marker),
           |${tag}e AS (
           |  SELECT 'CommonPrefix' AS kind, cp AS name,
           |         CAST(NULL AS VARCHAR) AS version_ulid,
           |         CAST(NULL AS BOOLEAN) AS is_latest,
           |         CAST(NULL AS BIGINT) AS size,
           |         CAST(NULL AS VARCHAR) AS backend,
           |         CAST(NULL AS BOOLEAN) AS cached_meta,
           |         CAST(NULL AS BIGINT) AS created_at_ms,
           |         CAST(NULL AS BIGINT) AS ord
           |  FROM (SELECT DISTINCT cp FROM ${tag}l WHERE cp IS NOT NULL)
           |  UNION ALL
           |  SELECT CASE WHEN is_delete_marker THEN 'DeleteMarker'
           |              ELSE 'Version' END,
           |         key, version_ulid, is_latest,
           |         CASE WHEN NOT is_delete_marker THEN size END,
           |         CASE WHEN is_mat THEN loc_backend END,
           |         CASE WHEN NOT is_delete_marker THEN is_ref END,
           |         created_at_ms, version_ord
           |  FROM ${tag}l WHERE cp IS NULL),
           |${tag}p AS (SELECT * FROM ${tag}e
           |            ORDER BY name, ord DESC NULLS LAST LIMIT $maxK),
           |${tag}n AS (SELECT COUNT(*) AS t FROM ${tag}e),
           |${tag}k AS (SELECT name, version_ulid FROM ${tag}p
           |            ORDER BY name DESC, ord ASC NULLS FIRST LIMIT 1),
           |${tag}_out AS (
           |  SELECT p.kind, p.name, p.version_ulid, p.is_latest, p.size,
           |         p.backend, p.cached_meta, p.created_at_ms,
           |         n.t > $maxK AS is_truncated,
           |         CASE WHEN n.t > $maxK THEN k.name END AS next_key_marker,
           |         CASE WHEN n.t > $maxK THEN k.version_ulid END
           |           AS next_version_id_marker,
           |         '$tag' AS sect
           |  FROM ${tag}p p, ${tag}n n, ${tag}k k)""".stripMargin
      }
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |${ObjectTables.blobsCte},
         |loc AS (SELECT blake3, backend FROM blobs
         |        WHERE NOT staging AND NOT partial),
         |${sect("a", "data/R/", delim = true, None, None, 25)},
         |${sect("b", "data/R/", delim = true, Some("data/R/f30/"), None, 25)},
         |${sect("c", "data/R/f13/", delim = false, None, None, 40)},
         |${
        sect("d", "data/R/f13/", delim = false,
          Some("data/R/f13/o184.bin"), Some("000000046845"), 12)
      }
         |SELECT * FROM (
         |  SELECT * FROM a_out UNION ALL SELECT * FROM b_out
         |  UNION ALL SELECT * FROM c_out UNION ALL SELECT * FROM d_out)
         |ORDER BY sect, name, coalesce(version_ulid, '')""".stripMargin
    },

    "ru1_resolve_users" ->
      s"""WITH ${Directory.usersCte},
         |req AS (
         |  SELECT DISTINCT CASE WHEN o_orderkey%11=0
         |      THEN lpad(CAST(o_custkey+9000000 AS VARCHAR), 12, '0')
         |      ELSE lpad(CAST(o_custkey AS VARCHAR), 12, '0') END AS user_id
         |  FROM orders WHERE o_orderkey%13=0)
         |SELECT u.user_id, u.name, u.orcid, u.affiliation, u.department
         |FROM users u JOIN req r USING (user_id)
         |WHERE u.realm='realm-0' ORDER BY u.user_id""".stripMargin,

    "uv1_attr_validation" ->
      s"""WITH ${Directory.attrsCte},
         |v AS (
         |  SELECT user_id, key,
         |    CASE WHEN NOT (length(key) BETWEEN 1 AND 128
         |                   AND regexp_full_match(key, '[A-Za-z0-9._:-]+'))
         |           THEN 'invalid_key:'||key
         |         WHEN strlen(value) > 4096
         |              OR regexp_matches(value, '[\\x00-\\x1f\\x7f]')
         |           THEN 'invalid_value:'||key END AS err
         |  FROM attrs)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_attrs,
         |  coalesce(min_by(err, key) FILTER (WHERE err IS NOT NULL),
         |           CASE WHEN COUNT(*) > 128 THEN 'too_many_attributes' END,
         |           'ok') AS verdict
         |FROM v GROUP BY user_id ORDER BY user_id""".stripMargin,

    "lu1_list_users" -> {
      def sect(tag: String, cursor: Option[String], limit: Int): String = {
        val cond = "realm='realm-1'" +
          cursor.map(c => s" AND user_id > '$c'").getOrElse("")
        s"""${tag}p AS (SELECT user_id, name FROM users WHERE $cond
           |            ORDER BY user_id LIMIT $limit),
           |${tag}n AS (SELECT COUNT(*) AS t FROM users WHERE $cond),
           |${tag}_out AS (
           |  SELECT p.user_id, p.name, n.t > $limit AS is_truncated,
           |    CASE WHEN n.t > $limit
           |         THEN (SELECT MAX(user_id) FROM ${tag}p) END
           |      AS next_start_after,
           |    '$tag' AS sect
           |  FROM ${tag}p p, ${tag}n n)""".stripMargin
      }
      s"""WITH ${Directory.usersCte},
         |${sect("a", None, 15)},
         |${sect("b", Some("000000000100"), 15)},
         |${sect("c", None, 1)}
         |SELECT * FROM (
         |  SELECT * FROM a_out UNION ALL SELECT * FROM b_out
         |  UNION ALL SELECT * FROM c_out)
         |ORDER BY sect, user_id""".stripMargin
    },

    "lg1_list_groups" -> {
      def sect(tag: String, limit: Int, offset: Int): String =
        s"""${tag}_out AS (
           |  SELECT group_id, name, realm, '$tag' AS sect FROM groups
           |  ORDER BY group_id LIMIT $limit OFFSET $offset)""".stripMargin
      s"""WITH ${Directory.groupsCte},
         |${sect("a", 12, 0)},
         |${sect("b", 15, 20)},
         |${sect("c", 10, 1000000)},
         |${sect("d", 0, 5)}
         |SELECT * FROM (
         |  SELECT * FROM a_out UNION ALL SELECT * FROM b_out
         |  UNION ALL SELECT * FROM c_out UNION ALL SELECT * FROM d_out)
         |ORDER BY sect, group_id""".stripMargin
    },

    "lm1_list_documents" ->
      s"""WITH ${graft.sparql.RdfTables.registryCte}, ${Directory.lifecycleCte}
         |SELECT document_id, graph_iri, document_path, public
         |FROM registry r
         |WHERE group_id='grp-7'
         |  AND NOT EXISTS (SELECT 1 FROM lifecycle l
         |                  WHERE l.status='Deleted'
         |                    AND l.graph_iri = r.graph_iri)
         |ORDER BY document_id""".stripMargin,
    "goa1_object_attributes" ->
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |${ObjectTables.blobsCte},
         |loc AS (SELECT blake3, backend FROM blobs
         |        WHERE NOT staging AND NOT partial),
         |hd AS (SELECT * FROM versions
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket, key
         |                 ORDER BY version_ord DESC, hash DESC) = 1),
         |summ AS (SELECT version_ulid,
         |           CASE WHEN version_ord%14=0 THEN 'Composite'
         |                ELSE 'FullObject' END AS checksum_type
         |         FROM versions WHERE version_ord%7=0),
         |pts AS (SELECT version_ulid, CAST(COUNT(*) AS BIGINT) AS np,
         |          CAST(SUM(CASE WHEN pn < size//8192+1 THEN 8192
         |                   ELSE size - 8192*(size//8192) END) AS BIGINT) AS pb
         |        FROM versions, range(1, 20) t(pn)
         |        WHERE version_ord%7=0 AND pn <= size//8192 + 1 GROUP BY 1),
         |req AS (
         |  SELECT 'e0:'||bucket||'/'||key||'@'||version_ulid AS req_id,
         |    bucket, key, version_ulid AS version_id,
         |    version_ord%2=0 AS include_parts
         |  FROM versions WHERE version_ord%57=0
         |  UNION ALL
         |  SELECT 'e1:'||bucket||'/'||key||'@'||version_ulid, bucket, key,
         |    lpad(CAST(version_ord - version_ord%10 + 9 AS VARCHAR), 12, '0'),
         |    TRUE
         |  FROM versions WHERE version_ord%59=0
         |  UNION ALL
         |  SELECT DISTINCT 'h0:'||bucket||'/'||key, bucket, key, NULL, TRUE
         |  FROM versions WHERE version_ord%51=0
         |  UNION ALL
         |  SELECT DISTINCT 'h1:'||bucket||'/'||key, bucket, key||'.nope',
         |    NULL, FALSE
         |  FROM versions WHERE version_ord%101=0),
         |x AS (
         |  SELECT r.req_id, r.version_id, r.include_parts,
         |    bv.is_delete_marker AS v_marker, bv.hash AS v_hash,
         |    bv.version_ord AS v_ord, bv.created_at_ms AS v_cat,
         |    hh.version_ulid AS h_version, hh.is_delete_marker AS h_marker,
         |    hh.hash AS h_hash, hh.version_ord AS h_ord,
         |    hh.created_at_ms AS h_cat
         |  FROM req r
         |  LEFT JOIN versions bv ON bv.bucket = r.bucket AND bv.key = r.key
         |    AND bv.version_ulid = r.version_id
         |  LEFT JOIN hd hh ON hh.bucket = r.bucket AND hh.key = r.key),
         |y AS (
         |  SELECT *,
         |    CASE WHEN version_id IS NOT NULL THEN v_hash ELSE h_hash END AS s_hash,
         |    CASE WHEN version_id IS NOT NULL THEN v_ord ELSE h_ord END AS s_ord,
         |    CASE WHEN version_id IS NOT NULL THEN v_cat ELSE h_cat END AS s_cat,
         |    CASE WHEN version_id IS NOT NULL THEN version_id
         |         ELSE h_version END AS rv,
         |    CASE WHEN version_id IS NOT NULL AND v_hash IS NULL
         |           THEN 'no_such_version'
         |         WHEN version_id IS NOT NULL AND v_marker THEN 'delete_marker'
         |         WHEN version_id IS NULL AND h_version IS NULL
         |           THEN 'no_such_key'
         |         WHEN version_id IS NULL AND h_marker THEN 'no_such_key'
         |    END AS resolve
         |  FROM x),
         |z AS (
         |  SELECT y.*, l.backend AS loc_backend, s.checksum_type AS sct,
         |    p.np, p.pb, y.s_ord%7=3 AS is_ref
         |  FROM y
         |  LEFT JOIN loc l ON y.s_hash = l.blake3 AND y.resolve IS NULL
         |  LEFT JOIN summ s ON y.rv = s.version_ulid AND y.resolve IS NULL
         |  LEFT JOIN pts p ON y.rv = p.version_ulid AND y.resolve IS NULL
         |    AND y.include_parts),
         |f AS (
         |  SELECT *, coalesce(resolve,
         |    CASE WHEN NOT is_ref AND loc_backend IS NULL THEN 'failed' END,
         |    'ok') AS verdict
         |  FROM z)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='ok' THEN rv END AS resolved_version,
         |  CASE WHEN verdict='ok' AND NOT is_ref THEN loc_backend END AS backend,
         |  CASE WHEN verdict='ok' THEN is_ref END AS cached_meta,
         |  CASE WHEN verdict='ok' THEN s_cat END AS created_at_ms,
         |  CASE WHEN verdict='ok' THEN coalesce(sct, 'FullObject') END
         |    AS checksum_type,
         |  CASE WHEN verdict='ok' AND include_parts AND sct IS NOT NULL
         |       THEN coalesce(np, 0) END AS n_parts,
         |  CASE WHEN verdict='ok' AND include_parts AND sct IS NOT NULL
         |       THEN pb END AS parts_bytes
         |FROM f ORDER BY req_id""".stripMargin,

    "bh1_blob_holders" ->
      s"""WITH ${ObjectTables.blobsCte},
         |locations AS (
         |  SELECT blake3 FROM blobs
         |  UNION ALL
         |  SELECT blake3 FROM blobs
         |  WHERE substr(blake3, 1, 1) IN ('0', '1', '2', '3')),
         |pub AS (SELECT blake3, CAST(COUNT(*) AS BIGINT) AS n_copies
         |        FROM locations GROUP BY 1),
         |dht AS (SELECT md5(CAST(o_custkey%100 AS VARCHAR)) AS blake3,
         |          'n'||lpad(CAST(o_orderkey%17 AS VARCHAR), 2, '0') AS node_id,
         |          'realm-'||(o_orderkey%2) AS realm,
         |          1700000000000 + CASE WHEN o_orderkey%5=0 THEN -1000
         |                               ELSE 90000 END AS expires_at_ms
         |        FROM orders),
         |live AS (SELECT blake3,
         |           array_to_string(list(DISTINCT node_id ORDER BY node_id),
         |             ',') AS holders,
         |           CAST(COUNT(DISTINCT node_id) AS BIGINT) AS n_holders
         |         FROM dht
         |         WHERE realm='realm-0' AND node_id <> 'n05'
         |           AND expires_at_ms > 1700000000000
         |         GROUP BY 1)
         |SELECT p.blake3, p.n_copies, coalesce(l.holders, '') AS holders,
         |       coalesce(l.n_holders, 0) AS n_holders
         |FROM pub p LEFT JOIN live l USING (blake3) ORDER BY p.blake3""".stripMargin,
    "dso1_outbox_drain" ->
      """WITH ob AS (
        |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS outbox_id,
        |    CASE o_orderkey%3 WHEN 0 THEN 'admin' WHEN 1 THEN 'delete'
        |         ELSE 'upsert' END AS kind,
        |    CASE WHEN o_orderkey%3=0 THEN 'node-'||(o_custkey%5) END
        |      AS origin_node,
        |    CASE WHEN o_orderkey%3=0 THEN CAST(o_orderkey%100 AS BIGINT) END
        |      AS origin_seq,
        |    'doc:'||(o_custkey%200) AS target,
        |    'topic-'||lpad(CAST(o_custkey%23 AS VARCHAR), 2, '0') AS topic,
        |    o_orderkey%5<>4 AS uses_shard,
        |    CASE WHEN o_orderkey%13=0 THEN ''
        |         ELSE array_to_string(list_sort(list_distinct(
        |           ['p'||(o_custkey%7), 'p'||(o_custkey%3)])), ',') END AS peers,
        |    CASE WHEN (o_custkey%23)%4=0
        |         THEN 'h'||((o_custkey%23)%5)||',h9' ELSE '' END AS live_holders,
        |    1700000000000 + (o_orderkey%7)*60000 AS enq_ms
        |  FROM orders),
        |ts AS (SELECT 'topic-'||lpad(CAST(r AS VARCHAR), 2, '0') AS topic,
        |              r%5<>0 AS held, r%5>1 AS topic_exists
        |       FROM range(0, 22) t(r)),
        |v AS (
        |  SELECT ob.*, ts.held, ts.topic_exists,
        |    CASE WHEN NOT uses_shard THEN 'publish'
        |         WHEN held IS NOT NULL AND NOT held THEN 'undeliverable'
        |         WHEN topic_exists IS NULL OR NOT topic_exists THEN 'deferred'
        |         ELSE 'publish' END AS verdict,
        |    greatest(0, 1700000400000 - enq_ms) AS age,
        |    CASE WHEN uses_shard AND peers <> '' AND live_holders <> ''
        |         THEN live_holders ELSE peers END AS rp
        |  FROM ob LEFT JOIN ts USING (topic)),
        |f AS (
        |  SELECT *, verdict='deferred' AND age >= 300000 AS stuck,
        |    CASE WHEN verdict='publish' THEN rp END AS group_key
        |  FROM v)
        |SELECT outbox_id, kind, target, topic, verdict, stuck, group_key,
        |  CASE WHEN group_key IS NOT NULL THEN
        |    CAST((ROW_NUMBER() OVER (PARTITION BY group_key
        |      ORDER BY kind, coalesce(origin_node, ''),
        |               coalesce(origin_seq, 0), outbox_id, target) - 1) // 512
        |      AS BIGINT) END AS subbatch
        |FROM f ORDER BY outbox_id, target""".stripMargin,
    "rq1_replication_queue_fold" ->
      s"""WITH $replInsertsCte,
         |st AS (SELECT ident, attempts, due_at_ms, seq FROM ins
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY ident
         |         ORDER BY attempts DESC, due_at_ms DESC, seq ASC) = 1)
         |SELECT * FROM st ORDER BY ident""".stripMargin,

    "rq2_replication_due_scan" ->
      s"""WITH $replInsertsCte,
         |st AS (SELECT ident, attempts, due_at_ms, seq FROM ins
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY ident
         |         ORDER BY attempts DESC, due_at_ms DESC, seq ASC) = 1),
         |due AS (SELECT * FROM st WHERE due_at_ms <= 1700000240000),
         |pg AS (SELECT * FROM due ORDER BY ident LIMIT 64),
         |meta AS (SELECT (SELECT COUNT(*) FROM due) AS n,
         |                (SELECT MAX(ident) FROM pg) AS cutoff),
         |hint AS (SELECT MIN(due_at_ms) AS next_due_at_ms
         |         FROM st, meta
         |         WHERE due_at_ms > 1700000240000
         |           AND (n <= 64 OR ident < cutoff))
         |SELECT pg.ident, pg.attempts, pg.due_at_ms, pg.seq,
         |       m.n > 64 AS has_more_due, h.next_due_at_ms
         |FROM pg, meta m, hint h ORDER BY pg.ident""".stripMargin,
    "upc1_upload_part_copy" ->
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |${ObjectTables.uploadsCte},
         |hd AS (SELECT * FROM versions
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket, key
         |                 ORDER BY version_ord DESC, hash DESC) = 1),
         |sample AS (
         |  SELECT v.*, lpad(CAST((version_ord - version_ord%10)//10
         |           AS VARCHAR), 12, '0') AS uid,
         |         (version_ord//61)%9 AS cls
         |  FROM versions v WHERE version_ord%61=0),
         |wu AS (SELECT s.*, u.bucket AS u_bucket, u.key AS u_key, u.status
         |       FROM sample s JOIN uploads u ON u.upload_id = s.uid),
         |req AS (
         |  SELECT 'c'||cls||':'||uid||'@'||version_ulid AS req_id,
         |    CASE WHEN cls=0 THEN lpad(CAST(version_ord + 900000000
         |           AS VARCHAR), 12, '0') ELSE uid END AS upload_id,
         |    u_bucket AS dest_bucket,
         |    CASE WHEN cls=1 THEN u_key||'.x' ELSE u_key END AS dest_key,
         |    bucket AS src_bucket,
         |    CASE WHEN cls=6 THEN key||'.gone' ELSE key END AS src_key,
         |    CASE WHEN cls IN (3,4,5) THEN version_ulid
         |         WHEN cls=7 THEN lpad(CAST(version_ord - version_ord%10 + 9
         |           AS VARCHAR), 12, '0') END AS src_version,
         |    CASE WHEN cls=3 THEN 2 WHEN cls=4 THEN 200000
         |         WHEN cls=5 THEN 50 END AS r_start,
         |    CASE WHEN cls=3 THEN 5 WHEN cls=5 THEN 10 END AS r_end,
         |    CASE WHEN cls=2 THEN hash WHEN cls=8 THEN 'deadbeef' END
         |      AS if_match
         |  FROM wu),
         |x AS (
         |  SELECT r.*, u.bucket AS ub, u.key AS uk, u.status AS ust,
         |    bv.is_delete_marker AS v_marker, bv.hash AS v_hash,
         |    bv.size AS v_size, bv.created_at_ms AS v_cat,
         |    hh.version_ulid AS h_version, hh.is_delete_marker AS h_marker,
         |    hh.hash AS h_hash, hh.size AS h_size, hh.created_at_ms AS h_cat
         |  FROM req r
         |  LEFT JOIN uploads u ON u.upload_id = r.upload_id
         |  LEFT JOIN versions bv ON bv.bucket = r.src_bucket
         |    AND bv.key = r.src_key AND bv.version_ulid = r.src_version
         |  LEFT JOIN hd hh ON hh.bucket = r.src_bucket
         |    AND hh.key = r.src_key),
         |y AS (
         |  SELECT *,
         |    src_version IS NOT NULL AS expl,
         |    CASE WHEN src_version IS NOT NULL THEN v_size ELSE h_size END
         |      AS len,
         |    CASE WHEN src_version IS NOT NULL THEN v_hash ELSE h_hash END
         |      AS etag
         |  FROM x),
         |f AS (
         |  SELECT *,
         |    CASE WHEN ub IS NULL THEN 'no_such_upload'
         |      WHEN ub <> dest_bucket OR uk <> dest_key THEN 'target_mismatch'
         |      WHEN ust <> 'Open' THEN 'upload_not_open'
         |      WHEN expl AND v_hash IS NULL THEN 'no_such_version'
         |      WHEN expl AND v_marker THEN 'delete_marker'
         |      WHEN NOT expl AND h_version IS NULL THEN 'no_such_key'
         |      WHEN NOT expl AND h_marker THEN 'no_such_key'
         |      WHEN r_start IS NOT NULL AND (r_start >= len
         |        OR (r_end IS NOT NULL AND r_start > r_end))
         |        THEN 'invalid_range'
         |      WHEN if_match IS NOT NULL AND if_match <> etag
         |        THEN 'precondition_failed'
         |      ELSE 'ok' END AS verdict
         |  FROM y)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='ok' THEN
         |    CASE WHEN r_start IS NULL THEN len
         |         WHEN r_end IS NOT NULL
         |           THEN least(r_end, len - 1) - r_start + 1
         |         ELSE len - r_start END END AS content_length,
         |  CASE WHEN verdict='ok' THEN
         |    CASE WHEN expl THEN src_version ELSE h_version END END
         |    AS source_version,
         |  CASE WHEN verdict='ok' THEN
         |    CASE WHEN expl THEN v_cat ELSE h_cat END END
         |    AS source_last_modified
         |FROM f ORDER BY req_id""".stripMargin,
    "mp1_placement_mutations" ->
      """WITH nodes AS (
        |  SELECT 'nd'||r AS node_id,
        |    CASE WHEN r%4=0 THEN 'default' ELSE 'loc-'||(r%3) END AS c_location,
        |    CAST(CASE WHEN r%5=0 THEN 100 ELSE 100+r END AS BIGINT) AS c_weight,
        |    r%7=0 AS c_full,
        |    CASE WHEN r%3=0 THEN '' ELSE 'L'||(r%3) END AS c_labels
        |  FROM range(0,10) t(r)),
        |strategies AS (SELECT 's0'||r AS strategy_id FROM range(1,9) t(r)),
        |mbind AS (SELECT * FROM (VALUES ('realm','s01'), ('realm','s03'),
        |          ('group:2','s02')) t(scope, strategy_id)),
        |refstr AS (SELECT * FROM (VALUES ('s01'),('s02'),('s03'),('s04'))
        |           t(strategy_id)),
        |muts AS (
        |  SELECT 'm'||o_orderkey AS mut_id,
        |    o_orderkey%12 AS cls, o_custkey AS c, o_custkey%10 AS i,
        |    CASE WHEN o_orderkey%12<=4 THEN 'upsert_node'
        |         WHEN o_orderkey%12=5 THEN 'upsert_strategy'
        |         WHEN o_orderkey%12 IN (6,7) THEN 'set_default_strategy'
        |         WHEN o_orderkey%12 IN (8,9) THEN 'set_binding'
        |         WHEN o_orderkey%12=10 THEN 'remove_strategy'
        |         ELSE 'set_override' END AS kind
        |  FROM orders),
        |mm AS (
        |  SELECT mut_id, kind, cls, c, i,
        |    CASE WHEN cls IN (0,1,4) THEN 'nd'||i
        |         WHEN cls IN (2,3) THEN 'new'||(c%20) END AS node_id,
        |    CASE WHEN cls IN (0,1,4) THEN
        |           CASE WHEN i%4=0 THEN 'default' ELSE 'loc-'||(i%3) END
        |         WHEN cls IN (2,3) THEN 'default' END AS n_location,
        |    CAST(CASE WHEN cls=0 THEN
        |           CASE WHEN i%5=0 THEN 100 ELSE 100+i END
        |         WHEN cls=1 THEN
        |           CASE WHEN i%5=0 THEN 100 ELSE 100+i END + 1
        |         WHEN cls=2 THEN 100 WHEN cls=3 THEN 150
        |         WHEN cls=4 THEN
        |           CASE WHEN i%5=0 THEN 100 ELSE 100+i END + 5
        |         END AS BIGINT) AS n_weight,
        |    CASE WHEN cls IN (0,1,4) THEN i%7=0
        |         WHEN cls IN (2,3) THEN FALSE END AS n_full,
        |    CASE WHEN cls IN (0,1,4) THEN
        |           CASE WHEN i%3=0 THEN '' ELSE 'L'||(i%3) END
        |         WHEN cls IN (2,3) THEN '' END AS n_labels,
        |    CASE WHEN cls<=3 THEN TRUE WHEN cls=4 THEN FALSE END
        |      AS n_draining,
        |    CASE WHEN cls=5 THEN 's0'||(c%8+1)
        |         WHEN cls=6 THEN 's99'
        |         WHEN cls=7 THEN CASE WHEN c%2=0 THEN 's01' ELSE 's02' END
        |         WHEN cls=8 THEN CASE WHEN c%3=0 THEN 's02'
        |              WHEN c%3=1 THEN 's03' ELSE 's02' END
        |         WHEN cls=9 THEN CASE WHEN c%2=0 THEN 's05' ELSE 's99' END
        |         WHEN cls=10 THEN ['s01','s02','s04','s06'][CAST(c%4+1 AS INT)]
        |         ELSE CASE WHEN c%3=0 THEN 's99' WHEN c%3=1 THEN NULL
        |              ELSE 's05' END END AS strategy_id,
        |    CASE WHEN cls=5 THEN CAST(c%4 AS BIGINT) END AS replica_count,
        |    CASE WHEN cls IN (6,7) THEN 'realm'
        |         WHEN cls=8 THEN CASE WHEN c%3=0 THEN 'group:2'
        |              ELSE 'group:5' END
        |         WHEN cls=9 THEN 'class:blob' END AS scope
        |  FROM muts),
        |j AS (
        |  SELECT m.*, n.c_location, n.c_weight, n.c_full, n.c_labels,
        |    s.strategy_id IS NOT NULL AS s_exists,
        |    mbx.scope IS NOT NULL AS mb_exists,
        |    mbr.strategy_id IS NOT NULL AS mb_realm_exists,
        |    rf.strategy_id IS NOT NULL AS s_referenced
        |  FROM mm m
        |  LEFT JOIN nodes n USING (node_id)
        |  LEFT JOIN strategies s ON s.strategy_id = m.strategy_id
        |  LEFT JOIN mbind mbx ON mbx.scope = m.scope
        |    AND mbx.strategy_id = m.strategy_id
        |  LEFT JOIN (SELECT DISTINCT strategy_id FROM mbind
        |             WHERE scope='realm') mbr
        |    ON mbr.strategy_id = m.strategy_id
        |  LEFT JOIN refstr rf ON rf.strategy_id = m.strategy_id)
        |SELECT mut_id, kind,
        |  CASE kind
        |    WHEN 'upsert_node' THEN
        |      CASE WHEN n_draining AND NOT (
        |        coalesce(n_location,'default') = coalesce(c_location,'default')
        |        AND coalesce(n_weight,100) = coalesce(c_weight,100)
        |        AND coalesce(n_full,FALSE) = coalesce(c_full,FALSE)
        |        AND coalesce(n_labels,'') = coalesce(c_labels,''))
        |        THEN 'draining_frozen' ELSE 'ok' END
        |    WHEN 'upsert_strategy' THEN
        |      CASE WHEN replica_count=0 THEN 'zero_replica_count'
        |           ELSE 'ok' END
        |    WHEN 'set_default_strategy' THEN
        |      CASE WHEN NOT s_exists THEN 'missing_strategy'
        |        WHEN NOT (mb_exists OR (scope LIKE 'group:%'
        |          AND mb_realm_exists)) THEN 'no_metadata_binding'
        |        ELSE 'ok' END
        |    WHEN 'set_binding' THEN
        |      CASE WHEN NOT s_exists THEN 'missing_strategy'
        |        WHEN scope LIKE 'class:%' AND scope <> 'class:metadata'
        |          THEN 'ok'
        |        WHEN NOT (mb_exists OR (scope LIKE 'group:%'
        |          AND mb_realm_exists)) THEN 'no_metadata_binding'
        |        ELSE 'ok' END
        |    WHEN 'remove_strategy' THEN
        |      CASE WHEN s_referenced THEN 'strategy_referenced'
        |           ELSE 'ok' END
        |    ELSE CASE WHEN strategy_id IS NOT NULL AND NOT s_exists
        |         THEN 'missing_strategy' ELSE 'ok' END
        |  END AS verdict
        |FROM j ORDER BY mut_id""".stripMargin,
    "adr2_strategy_repair" ->
      """WITH live AS (SELECT 'rA' AS realm, 'S'||k AS strategy_id
        |             FROM range(0,6) t(k) WHERE k%3<>1),
        |fb AS (SELECT realm, MIN(strategy_id) AS fb FROM live GROUP BY realm),
        |defaults AS (SELECT * FROM (VALUES ('rA','S1'),('rB','S9'))
        |             t(realm, strategy_id)),
        |bindings AS (
        |  SELECT 'rA' AS realm, 'b'||k AS scope, 'S'||(k%7) AS strategy_id
        |  FROM range(0,8) t(k)
        |  UNION ALL SELECT 'rB', 'b'||k, 'S0' FROM range(0,3) t(k)),
        |ovr AS (
        |  SELECT 'rA' AS realm, 'o'||k AS subject,
        |         CASE WHEN k%3=0 THEN NULL ELSE 'S'||(k%5) END AS strategy_id
        |  FROM range(0,6) t(k)
        |  UNION ALL SELECT * FROM (VALUES ('rB','o0','S0'),('rB','o1',NULL))
        |    t(realm, subject, strategy_id)),
        |ed AS (SELECT d.realm, d.strategy_id, f.fb,
        |         l.strategy_id IS NOT NULL AS is_live
        |       FROM defaults d LEFT JOIN fb f ON f.realm = d.realm
        |       LEFT JOIN live l ON l.realm = d.realm
        |         AND l.strategy_id = d.strategy_id),
        |eb AS (SELECT b.realm, b.scope, b.strategy_id, f.fb,
        |         l.strategy_id IS NOT NULL AS is_live
        |       FROM bindings b LEFT JOIN fb f ON f.realm = b.realm
        |       LEFT JOIN live l ON l.realm = b.realm
        |         AND l.strategy_id = b.strategy_id),
        |eo AS (SELECT o.realm, o.subject, o.strategy_id, f.fb,
        |         l.strategy_id IS NOT NULL AS is_live
        |       FROM ovr o LEFT JOIN fb f ON f.realm = o.realm
        |       LEFT JOIN live l ON l.realm = o.realm
        |         AND l.strategy_id = o.strategy_id)
        |SELECT realm, kind, key, old_strategy, new_strategy, action FROM (
        |  SELECT realm, 'default' AS kind, '-' AS key,
        |    strategy_id AS old_strategy,
        |    CASE WHEN fb IS NULL THEN NULL
        |         WHEN strategy_id IS NULL OR NOT is_live THEN fb
        |         ELSE strategy_id END AS new_strategy,
        |    CASE WHEN fb IS NULL THEN 'cleared'
        |         WHEN strategy_id IS NULL OR NOT is_live THEN 'repaired'
        |         ELSE 'kept' END AS action
        |  FROM ed
        |  UNION ALL
        |  SELECT realm, 'binding', scope, strategy_id,
        |    CASE WHEN fb IS NULL THEN NULL
        |         WHEN NOT is_live THEN fb ELSE strategy_id END,
        |    CASE WHEN fb IS NULL THEN 'removed'
        |         WHEN NOT is_live THEN 'repaired' ELSE 'kept' END
        |  FROM eb
        |  UNION ALL
        |  SELECT realm, 'override', subject, strategy_id,
        |    CASE WHEN fb IS NULL OR strategy_id IS NULL THEN NULL
        |         WHEN NOT is_live THEN fb ELSE strategy_id END,
        |    CASE WHEN strategy_id IS NULL THEN 'kept'
        |         WHEN fb IS NULL THEN 'nulled'
        |         WHEN NOT is_live THEN 'repaired' ELSE 'kept' END
        |  FROM eo) u
        |ORDER BY realm, kind, key""".stripMargin,

    "tp1_timer_fold" ->
      """WITH log AS (
        |  SELECT 'task-'||lpad(CAST(o_custkey%20 AS VARCHAR), 2, '0') AS key,
        |    o_custkey%20 < 7 AS durable,
        |    ['cancel','reset','shorten','shorten','shorten']
        |      [CAST(o_orderkey%5+1 AS INT)] AS kind,
        |    1700000000000 + (o_orderkey%97)*1000 AS due_at_ms,
        |    CAST(o_orderkey AS BIGINT) AS seq
        |  FROM orders),
        |eff AS (SELECT * FROM log WHERE kind='cancel' OR NOT durable),
        |g1 AS (SELECT key,
        |         coalesce(MAX(seq) FILTER (WHERE kind='cancel'), -1) AS cseq
        |       FROM eff GROUP BY key),
        |tail AS (SELECT e.* FROM eff e JOIN g1 USING (key)
        |         WHERE e.seq > g1.cseq AND e.kind <> 'cancel'),
        |g2 AS (SELECT key, MAX(seq) FILTER (WHERE kind='reset') AS rseq
        |       FROM tail GROUP BY key)
        |SELECT t.key, MIN(t.due_at_ms) AS due_at_ms
        |FROM tail t JOIN g2 USING (key)
        |WHERE (g2.rseq IS NOT NULL AND
        |        ((t.kind='reset' AND t.seq = g2.rseq) OR
        |         (t.kind='shorten' AND t.seq > g2.rseq)))
        |   OR (g2.rseq IS NULL AND t.kind='shorten')
        |GROUP BY t.key ORDER BY t.key""".stripMargin,
    "ni1_node_heartbeat" ->
      s"""WITH ${graft.sparql.RdfTables.registryCte},
         |nodes AS (SELECT * FROM (VALUES
         |  ('nv0', CAST(4 AS BIGINT), CAST(500000 AS BIGINT)),
         |  ('nv1', CAST(4 AS BIGINT), CAST(8000000 AS BIGINT)),
         |  ('nv2', CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)),
         |  ('nv3', CAST(8 AS BIGINT), CAST(2400000 AS BIGINT)),
         |  ('nv4', CAST(2 AS BIGINT), CAST(3000000 AS BIGINT)))
         |  t(node_id, cores, load1_u)),
         |held AS (
         |  SELECT 'nv'||k AS node_id, 'sA' AS strategy_id,
         |         CAST(k%8 AS BIGINT) AS shard FROM range(0,5) t(k)
         |  UNION ALL SELECT 'nv'||k, 'sA', CAST((k+1)%8 AS BIGINT)
         |    FROM range(0,5) t(k)
         |  UNION ALL SELECT 'nv'||k, 'sB', CAST((k*2)%8 AS BIGINT)
         |    FROM range(0,5) t(k)),
         |reg AS (
         |  SELECT CASE WHEN CAST(document_id AS BIGINT)%11=0 THEN NULL
         |           WHEN CAST(document_id AS BIGINT)%2=0 THEN 'sA'
         |           ELSE 'sB' END AS strategy_id,
         |         CAST(document_id AS BIGINT)%8 AS shard
         |  FROM registry),
         |niln AS (SELECT COUNT(*) AS n FROM reg WHERE strategy_id IS NULL),
         |matched AS (
         |  SELECT h.node_id, CAST(COUNT(*) AS BIGINT) AS m
         |  FROM reg r JOIN held h ON r.strategy_id = h.strategy_id
         |    AND r.shard = h.shard
         |  GROUP BY h.node_id)
         |SELECT n.node_id,
         |  CAST(coalesce(m.m, 0) + x.n AS BIGINT) AS held_docs,
         |  CAST(CASE WHEN n.cores = 0 THEN 0
         |    ELSE least(1000, (n.load1_u*1000 + n.cores*500000) //
         |      (n.cores*1000000)) END AS BIGINT) AS load_permille
         |FROM nodes n LEFT JOIN matched m USING (node_id), niln x
         |ORDER BY n.node_id""".stripMargin,
    "cat14_copy_conditions" ->
      s"""WITH ${ObjectTables.objectsCte}, ${ObjectTables.versionsCte},
         |hd AS (SELECT * FROM versions
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket, key
         |                 ORDER BY version_ord DESC, hash DESC) = 1),
         |sel AS (SELECT *, (version_ord//51)%9 AS c, created_at_ms//1000 AS lm
         |        FROM hd WHERE version_ord%51=0),
         |req AS (
         |  SELECT 'h'||c||':'||bucket||'/'||key AS req_id, bucket, key,
         |         CAST(NULL AS VARCHAR) AS src_version,
         |         CASE WHEN c=1 OR c=6 THEN '"'||hash||'"'
         |              WHEN c=2 THEN 'deadbeef' WHEN c=3 THEN '*' END AS if_match,
         |         CASE WHEN c=4 THEN '*' WHEN c=8 THEN 'deadbeef' END AS if_none_match,
         |         CASE WHEN c=7 OR c=8 THEN lm+10 END AS if_modified_s,
         |         CASE WHEN c=5 OR c=6 THEN lm-10 END AS if_unmodified_s
         |  FROM sel
         |  UNION ALL
         |  SELECT 'e0:'||bucket||'/'||key||'@'||version_ulid, bucket, key,
         |         version_ulid, NULL, NULL, NULL, NULL
         |  FROM versions WHERE version_ord%57=0
         |  UNION ALL
         |  SELECT 'e1:'||bucket||'/'||key||'@'||version_ulid, bucket, key,
         |         lpad(CAST(version_ord - version_ord%10 + 9 AS VARCHAR), 12, '0'),
         |         NULL, NULL, NULL, NULL
         |  FROM versions WHERE version_ord%59=0
         |  UNION ALL
         |  SELECT 'a0:'||bucket||'/'||key, bucket, key||'.nope',
         |         NULL, NULL, NULL, NULL, NULL
         |  FROM sel WHERE c=0),
         |bv AS (SELECT bucket, key, version_ulid AS src_version,
         |              is_delete_marker AS v_marker, hash AS v_etag,
         |              created_at_ms//1000 AS v_lm FROM versions),
         |hh AS (SELECT bucket, key, version_ulid AS h_version,
         |              is_delete_marker AS h_marker, hash AS h_etag,
         |              created_at_ms//1000 AS h_lm FROM hd),
         |x AS (SELECT r.*, bv.v_marker, bv.v_etag, hh.h_version, hh.h_marker,
         |        CASE WHEN r.src_version IS NOT NULL THEN bv.v_etag
         |             ELSE hh.h_etag END AS etag,
         |        CASE WHEN r.src_version IS NOT NULL THEN bv.v_lm
         |             ELSE hh.h_lm END AS lm2,
         |        COALESCE(r.src_version, hh.h_version) AS src_v
         |      FROM req r
         |      LEFT JOIN bv ON r.bucket=bv.bucket AND r.key=bv.key
         |                  AND r.src_version=bv.src_version
         |      LEFT JOIN hh ON r.bucket=hh.bucket AND r.key=hh.key),
         |v AS (SELECT *,
         |  CASE WHEN src_version IS NOT NULL AND v_etag IS NULL THEN 'NoSuchVersion'
         |       WHEN src_version IS NOT NULL AND v_marker THEN 'DeleteMarker'
         |       WHEN src_version IS NULL AND h_version IS NULL THEN 'NoSuchKey'
         |       WHEN src_version IS NULL AND h_marker THEN 'NoSuchKey'
         |       WHEN (CASE WHEN if_match IS NOT NULL
         |                  THEN NOT (if_match='*' OR trim(if_match, '"')=etag)
         |                  ELSE if_unmodified_s IS NOT NULL AND lm2 > if_unmodified_s END)
         |         OR (CASE WHEN if_none_match IS NOT NULL
         |                  THEN if_none_match='*' OR trim(if_none_match, '"')=etag
         |                  ELSE if_modified_s IS NOT NULL AND lm2 <= if_modified_s END)
         |       THEN 'PreconditionFailed' ELSE 'OK' END AS verdict FROM x)
         |SELECT req_id, verdict,
         |  CASE WHEN verdict='OK' THEN src_v END AS source_version,
         |  CASE WHEN verdict='OK' THEN etag END AS etag,
         |  CASE WHEN verdict='OK' THEN lm2 END AS last_modified_s
         |FROM v ORDER BY req_id""".stripMargin,

    "qc2_summary_cache" ->
      s"""WITH ${RdfTables.quadsCte},
         |g AS (SELECT * FROM quads WHERE graph_iri='graph:42'),
         |s0 AS (SELECT 'triples='||COUNT(*)||';subjects='||COUNT(DISTINCT subject)
         |         AS sm FROM g),
         |s1 AS (SELECT 'triples='||COUNT(*)||';subjects='||COUNT(DISTINCT subject)
         |         AS sm FROM g WHERE predicate <> '$ConformsTo')
         |SELECT * FROM (
         |  SELECT 's1_cold' AS step, FALSE AS cache_hit, sm AS summary FROM s0
         |  UNION ALL SELECT 's2_hit', TRUE, sm FROM s0
         |  UNION ALL SELECT 's3_cursor_advance', FALSE, sm FROM s1
         |  UNION ALL SELECT 's4_hit_new_cursor', TRUE, sm FROM s1
         |  UNION ALL SELECT 's5_stale_cursor', FALSE, sm FROM s0
         |  UNION ALL SELECT 's6_removed', FALSE, sm FROM s1
         |  UNION ALL SELECT 's7_ttl_expired', FALSE, sm FROM s1
         |) ORDER BY step""".stripMargin,

    "qc1_cache_invalidation" ->
      """WITH v0 AS (SELECT doc_id FROM documents WHERE doc_id%97 <> 0),
        |v1 AS (SELECT doc_id FROM v0 WHERE doc_id%10 <> 3),
        |s0 AS (SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sm FROM v0),
        |s1 AS (SELECT COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sm FROM v1)
        |SELECT * FROM (
        |  SELECT 's1_cold' AS step, FALSE AS cache_hit, n AS n_live, sm AS sum_live FROM s0
        |  UNION ALL SELECT 's2_hit', TRUE, n, sm FROM s0
        |  UNION ALL SELECT 's3_mutated', FALSE, n, sm FROM s1
        |  UNION ALL SELECT 's4_hit_after', TRUE, n, sm FROM s1
        |  UNION ALL SELECT 's5_ttl_expired', FALSE, n, sm FROM s1
        |) ORDER BY step""".stripMargin,

    "drs1_bulk_resolve" -> {
      val w3 = Drs.W3idPrefix
      val n = w3.length
      s"""WITH ${ObjectTables.objectsCte},
         |${ObjectTables.bucketsCte},
         |reqs AS (
         |  SELECT DISTINCT object_id FROM (
         |    SELECT CASE WHEN version_ord%2=0 THEN '$w3' ELSE '' END ||
         |      'arn:aruna:rlm:n0:s3/'||bucket||'/'||key||'@'||version_ulid
         |      AS object_id
         |    FROM objects WHERE version_ord%503 = 7 AND version_ord < 600000
         |    UNION ALL
         |    SELECT 'arn:aruna:rlm:n9:s3/'||bucket||'/'||key||'@'||version_ulid
         |    FROM objects WHERE version_ord%503 = 20 AND version_ord < 600000
         |    UNION ALL
         |    SELECT 'arn:aruna:rlm:n0:s3/'||bucket||'/'||key||'@999999999999'
         |    FROM objects WHERE version_ord%503 = 33 AND version_ord < 600000
         |    UNION ALL
         |    SELECT '$w3'||hash||hash FROM objects WHERE version_ord%503 = 46 AND version_ord < 600000
         |    UNION ALL
         |    SELECT 'arn:aruna:rlm:n0:ch/'||hash||hash FROM objects
         |    WHERE version_ord%503 = 59 AND version_ord < 600000
         |    UNION ALL
         |    SELECT 'arn:aruna:xx:n0:ch/'||hash||hash FROM objects
         |    WHERE version_ord%503 = 72 AND version_ord < 600000
         |    UNION ALL SELECT '${w3}deadbeef'
         |    UNION ALL SELECT 'arn:aruna:rlm:n0:s3/bkt-1'
         |    UNION ALL SELECT 'gs://nope')),
         |readable AS (SELECT 'grp-'||r AS group_id FROM range(0,2) t(r)),
         |p1 AS (
         |  SELECT object_id,
         |    CASE WHEN starts_with(object_id, '$w3')
         |         THEN substr(object_id, ${n + 1}) ELSE object_id END AS body,
         |    starts_with(object_id, '$w3') AS is_w3
         |  FROM reqs),
         |p2 AS (
         |  SELECT *,
         |    is_w3 AND regexp_matches(body, '^[0-9a-f]{64}$$') AS hex64,
         |    regexp_matches(body, '^arn:aruna:([^:]+):([^:]+):(s3|ch)/(.+)$$')
         |      AS is_arn,
         |    regexp_extract(body, '^arn:aruna:([^:]+):([^:]+):(s3|ch)/(.+)$$', 1) AS a_realm,
         |    regexp_extract(body, '^arn:aruna:([^:]+):([^:]+):(s3|ch)/(.+)$$', 2) AS a_node,
         |    regexp_extract(body, '^arn:aruna:([^:]+):([^:]+):(s3|ch)/(.+)$$', 3) AS a_kind,
         |    regexp_extract(body, '^arn:aruna:([^:]+):([^:]+):(s3|ch)/(.+)$$', 4) AS a_path
         |  FROM p1),
         |p3 AS (
         |  SELECT object_id,
         |    CASE WHEN hex64 THEN 'hash'
         |         WHEN is_arn AND a_kind='s3'
         |              AND regexp_matches(a_path, '^([^/]+)/(.+)@([^@/]+)$$')
         |           THEN 'versioned'
         |         WHEN is_arn AND a_kind='ch'
         |              AND regexp_matches(a_path, '^[0-9a-f]{64}$$')
         |           THEN 'hash'
         |         ELSE 'bad' END AS kind,
         |    CASE WHEN is_arn THEN a_realm END AS p_realm,
         |    CASE WHEN is_arn THEN a_node END AS p_node,
         |    CASE WHEN hex64 THEN substr(body, 1, 32)
         |         WHEN is_arn AND a_kind='ch'
         |              AND regexp_matches(a_path, '^[0-9a-f]{64}$$')
         |           THEN substr(a_path, 1, 32) END AS p_hash,
         |    CASE WHEN is_arn AND a_kind='s3' THEN
         |      regexp_extract(a_path, '^([^/]+)/(.+)@([^@/]+)$$', 1) END AS p_bucket,
         |    CASE WHEN is_arn AND a_kind='s3' THEN
         |      regexp_extract(a_path, '^([^/]+)/(.+)@([^@/]+)$$', 2) END AS p_key,
         |    CASE WHEN is_arn AND a_kind='s3' THEN
         |      regexp_extract(a_path, '^([^/]+)/(.+)@([^@/]+)$$', 3) END AS p_version
         |  FROM p2),
         |v AS (
         |  SELECT p.object_id, p.p_bucket, p.p_key, p.p_version, p.p_hash,
         |    p.p_realm, p.p_node, o.version_ord, o.is_delete_marker,
         |    b.group_id, r.group_id IS NOT NULL AS can_read
         |  FROM p3 p
         |  LEFT JOIN objects o ON o.bucket = p.p_bucket AND o.key = p.p_key
         |    AND o.version_ulid = p.p_version
         |  LEFT JOIN buckets b ON b.bucket = p.p_bucket
         |  LEFT JOIN readable r ON r.group_id = b.group_id
         |  WHERE p.kind = 'versioned'),
         |vres AS (
         |  SELECT object_id,
         |    CASE WHEN NOT (p_realm IS NULL
         |                   OR (p_realm='rlm' AND p_node='n0'))
         |              OR group_id IS NULL OR version_ord IS NULL
         |              OR is_delete_marker OR version_ord%101 = 0
         |           THEN 'not_found'
         |         WHEN NOT can_read THEN 'denied'
         |         ELSE 'found' END AS outcome,
         |    p_bucket, p_key, p_version, p_hash
         |  FROM v),
         |h AS (
         |  SELECT p.object_id, p.p_hash, o.bucket, o.key, o.version_ulid,
         |    o.version_ord, (r.group_id IS NOT NULL) AS can_read
         |  FROM p3 p
         |  LEFT JOIN (SELECT * FROM objects WHERE NOT is_delete_marker) o
         |    ON o.hash = p.p_hash
         |  LEFT JOIN buckets b ON b.bucket = o.bucket
         |  LEFT JOIN readable r ON r.group_id = b.group_id
         |  WHERE p.kind = 'hash'
         |    AND (p.p_realm IS NULL OR (p.p_realm='rlm' AND p.p_node='n0'))),
         |hagg AS (
         |  SELECT object_id, p_hash, COUNT(version_ord) AS n_map,
         |    MIN(CASE WHEN can_read AND version_ord%101 <> 0
         |                  AND version_ord%89 <> 0
         |             THEN bucket||chr(9)||key||chr(9)||version_ulid END)
         |      AS best
         |  FROM h GROUP BY 1, 2),
         |hres AS (
         |  SELECT object_id,
         |    CASE WHEN n_map = 0 THEN 'not_found'
         |         WHEN best IS NOT NULL THEN 'found'
         |         ELSE 'denied' END AS outcome,
         |    string_split(best, chr(9))[1] AS p_bucket,
         |    string_split(best, chr(9))[2] AS p_key,
         |    string_split(best, chr(9))[3] AS p_version, p_hash
         |  FROM hagg),
         |hscope AS (
         |  SELECT object_id, 'not_found' AS outcome,
         |    CAST(NULL AS VARCHAR) AS p_bucket, CAST(NULL AS VARCHAR) AS p_key,
         |    CAST(NULL AS VARCHAR) AS p_version, p_hash
         |  FROM p3 WHERE kind = 'hash'
         |    AND NOT (p_realm IS NULL OR (p_realm='rlm' AND p_node='n0'))),
         |bad AS (
         |  SELECT object_id, 'bad_request' AS outcome,
         |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         |    CAST(NULL AS VARCHAR), p_hash
         |  FROM p3 WHERE kind = 'bad'),
         |allres AS (
         |  SELECT * FROM vres UNION ALL SELECT * FROM hres
         |  UNION ALL SELECT * FROM hscope UNION ALL SELECT * FROM bad)
         |SELECT object_id, outcome,
         |  CASE WHEN outcome='found' THEN p_bucket END AS bucket,
         |  CASE WHEN outcome='found' THEN p_key END AS key,
         |  CASE WHEN outcome='found' THEN p_version END AS version_id,
         |  CASE WHEN outcome <> 'found' THEN NULL
         |       WHEN p_hash IS NOT NULL THEN '$w3'||p_hash||p_hash
         |       ELSE '$w3'||'arn:aruna:rlm:n0:s3/'||p_bucket||'/'||p_key
         |            ||'@'||p_version END AS canonical_w3id
         |FROM allres ORDER BY object_id""".stripMargin
    },

    "au1_permission_decisions" ->
      s"""WITH ${ObjectTables.objectsCte},
         |reqs AS (
         |  SELECT DISTINCT
         |    CASE WHEN version_ord%9 = 8 THEN 'anon'
         |         ELSE 'u'||(version_ord%9) END AS caller,
         |    'r'||(CASE WHEN version_ord%13 = 0 THEN ((version_ord%6)+1)%2
         |               ELSE (version_ord%6)%2 END) AS realm,
         |    'grp-'||(version_ord%6) AS group_id,
         |    '/r'||(CASE WHEN version_ord%13 = 0 THEN ((version_ord%6)+1)%2
         |                ELSE (version_ord%6)%2 END)
         |      ||'/g/grp-'||(version_ord%6)||
         |      CASE version_ord%5
         |        WHEN 0 THEN '/meta/doc'||(version_ord%10)
         |        WHEN 1 THEN '/data/f'||(version_ord%8)
         |        WHEN 2 THEN '/meta/doc'||(version_ord%6)
         |        WHEN 3 THEN '/meta/doc7'
         |        ELSE '/data/sub/f'||(version_ord%8) END AS path,
         |    CASE WHEN version_ord%3 = 0 THEN 'WRITE' ELSE 'READ' END
         |      AS required
         |  FROM objects WHERE version_ord%211 = 3 AND version_ord < 600000),
         |roles AS (
         |  SELECT g*10+k AS role_id, 'r'||(g%2) AS realm,
         |    'grp-'||g AS group_id,
         |    '/r'||(g%2)||'/g/grp-'||g||
         |      CASE k WHEN 0 THEN '/meta/**' WHEN 1 THEN '/**'
         |             WHEN 2 THEN '/meta/doc'||g WHEN 3 THEN '/meta/doc7'
         |             WHEN 4 THEN '/data/*' ELSE '/**' END AS pattern,
         |    CASE WHEN k = 2 THEN 'DENY' WHEN k IN (1, 5) THEN 'WRITE'
         |         ELSE 'READ' END AS permission
         |  FROM range(0,6) t(g), range(0,6) s(k)),
         |assigns AS (
         |  SELECT g*10+k AS role_id, 'u'||j AS user_id
         |  FROM range(0,6) t(g), range(0,6) s(k), range(0,8) u(j)
         |  WHERE (j + g + k*2)%5 = 0
         |  UNION ALL SELECT g*10+4, 'everyone@r0' FROM range(0,6) t(g)
         |  UNION ALL SELECT g*10+5, 'everyone@r'||(g%2) FROM range(0,6) t(g)),
         |restr AS (
         |  SELECT * FROM (VALUES ('u1','/r0/g/*/meta/**','READ'),
         |    ('u1','/r1/**','WRITE'), ('u2','**','WRITE'),
         |    ('u2','/r0/g/grp-2/**','DENY'), ('u3','/r0/**','READ'))
         |    t(caller, pattern, permission)),
         |dm AS (
         |  SELECT q.caller, q.realm, q.group_id, q.path, q.required,
         |    bool_or(ro.permission='DENY') AS deny,
         |    bool_or(ro.permission='WRITE') AS w,
         |    bool_or(ro.permission='READ') AS rd
         |  FROM reqs q
         |  JOIN roles ro ON ro.realm=q.realm AND ro.group_id=q.group_id
         |  JOIN assigns a ON a.role_id=ro.role_id AND a.user_id=q.caller
         |  WHERE q.caller <> 'anon' AND regexp_matches(q.path,
         |    '^'||replace(replace(replace(ro.pattern,'**',chr(1)),
         |      '*','[^/]*'),chr(1),'.*')||'$$')
         |  GROUP BY 1,2,3,4,5),
         |pm AS (
         |  SELECT q.caller, q.realm, q.group_id, q.path, q.required,
         |    bool_or(ro.permission='READ') AS prd
         |  FROM reqs q
         |  JOIN roles ro ON ro.realm=q.realm AND ro.group_id=q.group_id
         |  JOIN assigns a ON a.role_id=ro.role_id
         |    AND a.user_id='everyone@'||ro.realm
         |  WHERE q.caller <> 'anon' AND ro.permission='READ'
         |    AND regexp_matches(q.path,
         |      '^'||replace(replace(replace(ro.pattern,'**',chr(1)),
         |        '*','[^/]*'),chr(1),'.*')||'$$')
         |  GROUP BY 1,2,3,4,5),
         |rm AS (
         |  SELECT q.caller, q.realm, q.group_id, q.path, q.required,
         |    bool_or(t.permission='DENY') AS deny,
         |    bool_or(t.permission='WRITE') AS w,
         |    bool_or(t.permission='READ') AS rd
         |  FROM reqs q JOIN restr t ON t.caller=q.caller
         |  WHERE regexp_matches(q.path,
         |    '^'||replace(replace(replace(t.pattern,'**',chr(1)),
         |      '*','[^/]*'),chr(1),'.*')||'$$')
         |  GROUP BY 1,2,3,4,5),
         |hr AS (SELECT DISTINCT caller FROM restr),
         |dec AS (
         |  SELECT q.*,
         |    CASE
         |      WHEN q.caller = 'anon' THEN 'no_grant'
         |      WHEN COALESCE(dm.deny, FALSE) THEN 'deny_rule'
         |      WHEN NOT (COALESCE(dm.w, FALSE) OR (q.required='READ'
         |           AND (COALESCE(dm.rd, FALSE) OR COALESCE(pm.prd, FALSE))))
         |        THEN 'no_grant'
         |      WHEN hr.caller IS NULL THEN 'allowed'
         |      WHEN COALESCE(rm.deny, FALSE) THEN 'restriction_deny'
         |      WHEN COALESCE(rm.w, FALSE) OR (q.required='READ'
         |           AND COALESCE(rm.rd, FALSE)) THEN 'allowed'
         |      ELSE 'restriction_blocks' END AS verdict
         |  FROM reqs q
         |  LEFT JOIN dm ON dm.caller=q.caller AND dm.realm=q.realm
         |    AND dm.group_id=q.group_id AND dm.path=q.path
         |    AND dm.required=q.required
         |  LEFT JOIN pm ON pm.caller=q.caller AND pm.realm=q.realm
         |    AND pm.group_id=q.group_id AND pm.path=q.path
         |    AND pm.required=q.required
         |  LEFT JOIN rm ON rm.caller=q.caller AND rm.realm=q.realm
         |    AND rm.group_id=q.group_id AND rm.path=q.path
         |    AND rm.required=q.required
         |  LEFT JOIN hr ON hr.caller=q.caller)
         |SELECT caller, realm, group_id, path, required, verdict,
         |  verdict = 'allowed' AS allowed
         |FROM dec ORDER BY caller, realm, group_id, path, required""".stripMargin,

    "sm1_mirror_repair_sweep" -> {
      def phaseSql(tag: String, now: Long) =
        s"""ph_$tag AS (
           |  SELECT * FROM (SELECT rel_id, intent, due_at_ms, attempts
           |    FROM repairs WHERE due_at_ms <= $now
           |    ORDER BY due_at_ms, rel_id LIMIT 64)),
           |st_$tag AS (
           |  SELECT SUM(CASE WHEN due_at_ms <= $now THEN 1 ELSE 0 END)
           |      AS n_due,
           |    MIN(CASE WHEN due_at_ms > $now THEN due_at_ms END)
           |      AS next_due
           |  FROM repairs),
           |v_$tag AS (
           |  SELECT b.rel_id, b.intent, b.attempts,
           |    CASE WHEN b.intent='Delete' THEN 'delete_local_and_mirror'
           |         WHEN r.state IS NULL OR r.state='Detached'
           |           THEN 'delete_mirror'
           |         ELSE 'ensure_mirror' END AS action,
           |    CASE WHEN b.intent='Delete' THEN NULL
           |         WHEN r.state IS NULL OR r.state='Detached' THEN NULL
           |         WHEN bk.bucket IS NULL THEN 'target bucket not found'
           |         WHEN w.user_id IS NULL THEN 'access_denied' END
           |      AS last_error
           |  FROM ph_$tag b
           |  LEFT JOIN rels r ON r.rel_id=b.rel_id
           |  LEFT JOIN buckets bk ON bk.bucket=r.target_bucket
           |  LEFT JOIN writable w ON w.user_id=r.created_by
           |    AND w.bucket=r.target_bucket),
           |out_$tag AS (
           |  SELECT '$tag' AS phase, rel_id, intent, action, last_error,
           |    CASE WHEN last_error IS NULL THEN 'cleared'
           |         ELSE 'rescheduled' END AS outcome,
           |    CASE WHEN last_error IS NULL THEN NULL
           |         ELSE attempts + 1 END AS attempts_after,
           |    CASE WHEN last_error IS NULL THEN NULL
           |         ELSE $now + least(250 *
           |           (1 << least(CAST(attempts AS INT) + 1, 7)), 30000) END
           |      AS next_due_ms,
           |    (SELECT n_due > 64 FROM st_$tag) AS has_more_due,
           |    (SELECT CASE WHEN n_due > 64 THEN NULL
           |            ELSE next_due - $now END FROM st_$tag)
           |      AS next_due_after_ms
           |  FROM v_$tag)""".stripMargin
      s"""WITH repairs AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS rel_id,
         |    CASE WHEN o_orderkey%2=0 THEN 'Delete' ELSE 'Reconcile' END
         |      AS intent,
         |    1700000000000 + (o_orderkey%2000)*100 AS due_at_ms,
         |    CAST(o_orderkey%9 AS BIGINT) AS attempts
         |  FROM orders WHERE o_orderkey%7 < 3),
         |rels AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS rel_id,
         |    CASE WHEN o_orderkey%11=0 THEN 'Detached' ELSE 'Active' END
         |      AS state,
         |    'bkt-'||(o_orderkey%5) AS target_bucket,
         |    'u'||(o_orderkey%4) AS created_by
         |  FROM orders WHERE o_orderkey%13 <> 0),
         |buckets AS (SELECT 'bkt-'||r AS bucket FROM range(0,4) t(r)),
         |writable AS (
         |  SELECT 'u'||j AS user_id, 'bkt-'||i AS bucket
         |  FROM range(0,5) t(i), range(0,4) u(j) WHERE (i+j)%3 <> 0),
         |${phaseSql("a", 1700000000000L + 200000L)},
         |${phaseSql("b", 1700000000000L + 500L)}
         |SELECT * FROM (SELECT * FROM out_a UNION ALL SELECT * FROM out_b)
         |ORDER BY phase, rel_id""".stripMargin
    },

    "sm2_mirror_intent_ledger" -> {
      val step =
        """CASE
          |      WHEN e.kind='stage_delete' THEN 'Delete'
          |      WHEN e.kind='stage_reconcile' AND s.st<>'Delete'
          |        THEN 'Reconcile'
          |      WHEN e.kind='clear_reconcile' AND s.st='Reconcile'
          |        THEN 'none'
          |      WHEN e.kind='clear_delete' AND s.st='Delete' THEN 'none'
          |      WHEN e.kind='status_update' AND s.st<>'Delete'
          |        AND e.rel_state NOT IN ('Detached','missing')
          |        THEN 'Reconcile'
          |      ELSE s.st END AS st""".stripMargin
      val steps = (0 to 5).map { i =>
        s"""s${i + 1} AS (
           |  SELECT s.rel_id, $step
           |  FROM s$i s JOIN e ON e.rel_id=s.rel_id AND e.seq=$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS rel_id,
         |    CAST(seq AS INT) AS seq,
         |    CASE (o_orderkey + seq)%5
         |      WHEN 0 THEN 'stage_reconcile' WHEN 1 THEN 'stage_delete'
         |      WHEN 2 THEN 'status_update' WHEN 3 THEN 'clear_reconcile'
         |      ELSE 'clear_delete' END AS kind,
         |    CASE o_orderkey%4 WHEN 0 THEN 'Active' WHEN 1 THEN 'Detached'
         |      WHEN 2 THEN 'missing' ELSE 'Active' END AS rel_state
         |  FROM orders, range(0,6) t(seq) WHERE o_orderkey%3 = 0),
         |s0 AS (SELECT DISTINCT rel_id, 'none' AS st FROM e),
         |$steps
         |SELECT rel_id, st AS pending FROM s6 ORDER BY rel_id""".stripMargin
    },

    "cors1_preflight_match" -> {
      // wildcard_match (cors.rs:242-256): '*' | literal | split at FIRST
      // '*' -> prefix/suffix with the no-overlap length check
      def wc(a: String, v: String) =
        s"""($a = '*' OR (instr($a,'*') = 0 AND $a = $v)
           | OR (instr($a,'*') > 0
           |   AND starts_with($v, substring($a, 1, instr($a,'*')-1))
           |   AND ends_with($v, substring($a, instr($a,'*')+1))
           |   AND len($v) >= len($a)-1))""".stripMargin
      s"""WITH rules AS (
         |  SELECT bucket, rule_idx,
         |    string_split(origins_s,'|') AS origins,
         |    string_split(methods_s,'|') AS methods,
         |    CASE WHEN headers_s = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(headers_s,'|') END AS headers,
         |    CASE WHEN expose_s = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(expose_s,'|') END AS expose,
         |    CAST(max_age AS INT) AS max_age
         |  FROM (VALUES
         |    ('bkt-0',0,'https://app.example.com','GET|HEAD','','etag',300),
         |    ('bkt-0',1,'https://*.example.com','GET|PUT',
         |     'content-type|x-amz-*','',600),
         |    ('bkt-1',0,'*','GET','*','etag|x-amz-request-id',NULL),
         |    ('bkt-2',0,'https://app.example.com|http://localhost:3000',
         |     'PUT|POST|DELETE','authorization|content-type','',3600),
         |    ('bkt-2',1,'https://*.partner.io','GET|HEAD|POST',
         |     'content-type','etag',120),
         |    ('bkt-3',0,'https://*','GET','','',NULL))
         |   t(bucket, rule_idx, origins_s, methods_s, headers_s, expose_s,
         |     max_age)),
         |reqs AS (
         |  SELECT o_orderkey AS req_id,
         |    'bkt-'||(o_orderkey%5) AS bucket,
         |    CASE o_orderkey%11%5
         |      WHEN 0 THEN 'https://app.example.com'
         |      WHEN 1 THEN 'https://sub.example.com'
         |      WHEN 2 THEN 'https://evil.com'
         |      WHEN 3 THEN 'http://localhost:3000'
         |      ELSE 'https://x.partner.io' END AS origin,
         |    CASE o_orderkey%4 WHEN 0 THEN 'GET' WHEN 1 THEN 'PUT'
         |      WHEN 2 THEN 'POST' ELSE 'PATCH' END AS method,
         |    CASE o_orderkey%13%6 WHEN 0 THEN NULL WHEN 1 THEN ''
         |      WHEN 2 THEN 'Content-Type'
         |      WHEN 3 THEN 'Content-Type, X-Amz-Meta-Foo'
         |      WHEN 4 THEN ' Authorization ,, content-type '
         |      ELSE 'X-Custom' END AS headers_raw,
         |    o_orderkey%2 = 0 AS preflight
         |  FROM orders WHERE o_orderkey%97 = 1),
         |req2 AS (
         |  SELECT *, list_filter(list_transform(
         |    string_split(coalesce(headers_raw,''),','),
         |    h -> lower(trim(h))), h -> h <> '') AS hdrs
         |  FROM reqs),
         |cand AS (
         |  SELECT q.req_id, r.rule_idx, r.origins, r.methods, r.headers,
         |    r.expose, r.max_age,
         |    row_number() OVER (PARTITION BY q.req_id ORDER BY r.rule_idx)
         |      AS rn
         |  FROM req2 q JOIN rules r ON r.bucket = q.bucket
         |  WHERE len(list_filter(r.origins, a -> ${wc("a", "q.origin")}))
         |      > 0
         |    AND len(list_filter(r.methods,
         |      m -> upper(m) = upper(q.method))) > 0
         |    AND (NOT q.preflight OR len(list_filter(q.hdrs,
         |      h -> len(r.headers) > 0 AND len(list_filter(r.headers,
         |        a -> ${wc("lower(a)", "h")})) > 0)) = len(q.hdrs)))
         |SELECT q.req_id, q.bucket, q.origin, q.method, q.preflight,
         |  c.rule_idx IS NOT NULL AS matched,
         |  CAST(c.rule_idx AS INT) AS rule_idx,
         |  CASE WHEN c.rule_idx IS NULL THEN NULL
         |       WHEN list_contains(c.origins,'*') THEN '*'
         |       ELSE q.origin END AS allow_origin,
         |  CASE WHEN c.rule_idx IS NULL THEN NULL
         |       ELSE array_to_string(c.methods, ',') END AS allow_methods,
         |  CASE WHEN c.rule_idx IS NULL THEN NULL
         |       WHEN q.preflight AND len(q.hdrs) > 0
         |         THEN array_to_string(q.hdrs, ',')
         |       WHEN len(c.headers) > 0 THEN array_to_string(c.headers, ',')
         |       ELSE NULL END AS allow_headers,
         |  CASE WHEN c.rule_idx IS NULL OR len(c.expose) = 0 THEN NULL
         |       ELSE array_to_string(c.expose, ',') END AS expose_headers,
         |  CASE WHEN c.rule_idx IS NULL THEN NULL ELSE c.max_age END
         |    AS max_age,
         |  CAST(CASE WHEN q.preflight
         |         THEN CASE WHEN c.rule_idx IS NOT NULL THEN 204 ELSE 403
         |              END
         |         ELSE 200 END AS INT) AS status,
         |  (NOT q.preflight AND c.rule_idx IS NOT NULL) AS inject_cors
         |FROM req2 q LEFT JOIN cand c ON c.req_id = q.req_id AND c.rn = 1
         |ORDER BY q.req_id""".stripMargin
    },

    "pm1_placement_holders" -> {
      // exact fixed-point ratio key: floor((q48 << 64) / w) as a 40-digit
      // zero-padded decimal (see Placement.scala scaladoc for the
      // exactness argument)
      def key(score: String, w: String) =
        s"lpad((($score::UHUGEINT << 64) // $w::UHUGEINT)::VARCHAR, 40, '0')"
      s"""WITH RECURSIVE nodes AS (
         |  SELECT * FROM (VALUES
         |    ('n01','Server','loc-a',100,false,false,'ssd','x'),
         |    ('n02','Server','loc-a',200,false,false,'hdd','x'),
         |    ('n03','Server','loc-a',100,false,false,'ssd','y'),
         |    ('n04','Server','loc-b',300,false,false,'ssd','y'),
         |    ('n05','Server','loc-b',100,true,false,'ssd','x'),
         |    ('n06','Management','loc-b',150,false,false,'hdd','y'),
         |    ('n07','Server','loc-c',100,false,true,'ssd','x'),
         |    ('n08','Server','loc-c',50,false,false,'hdd','x'),
         |    ('n09','Server','loc-c',200,false,false,'ssd','y'),
         |    ('n10','User','loc-d',900,false,false,'ssd','x'),
         |    ('n11','Server','loc-d',0,false,false,'ssd','y'),
         |    ('n12','Local','loc-e',100,false,false,'hdd','x'))
         |   t(node_id, kind, location, weight, isfull, draining, tier,
         |     region)),
         |subs AS (
         |  SELECT 'subj-'||o_orderkey AS subject, o_orderkey AS o
         |  FROM orders WHERE o_orderkey%199 = 7),
         |tgt AS (
         |  SELECT DISTINCT 'L' AS role, location AS tid FROM nodes
         |  UNION ALL SELECT DISTINCT 'N', node_id FROM nodes),
         |hx AS (
         |  SELECT s.subject, t.role, t.tid,
         |    (('0x'||substr(md5('aruna-placement-rendezvous-v3|'||t.role
         |      ||'|'||s.subject||'|'||t.tid),1,16))::UBIGINT | 1)::UHUGEINT
         |      AS h
         |  FROM subs s, tgt t),
         |qr AS (
         |  SELECT subject, role, tid,
         |    (64 - length(bin(h::UBIGINT)))::BIGINT AS z,
         |    h << (64 - length(bin(h::UBIGINT)))::UHUGEINT AS x,
         |    CAST(0 AS UHUGEINT) AS f, 0 AS i
         |  FROM hx
         |  UNION ALL
         |  SELECT subject, role, tid, z,
         |    CASE WHEN (x*x) >> 127 = 1 THEN (x*x) >> 64
         |         ELSE (x*x) >> 63 END,
         |    f*2 + ((x*x) >> 127), i+1
         |  FROM qr WHERE i < 48),
         |sc AS (
         |  SELECT subject, role, tid,
         |    (((z+1)::UHUGEINT << 48) - f)::BIGINT AS q48
         |  FROM qr WHERE i = 48),
         |n1 AS (
         |  SELECT node_id, location, weight::BIGINT AS eff_w,
         |    (kind <> 'User') AS sync_ok,
         |    (NOT isfull AND NOT draining AND weight > 0) AS avail
         |  FROM nodes),
         |w1 AS (
         |  SELECT location,
         |    SUM(CASE WHEN sync_ok THEN eff_w ELSE 0 END)::BIGINT AS w_loc
         |  FROM n1 GROUP BY 1),
         |r1 AS (
         |  SELECT s.subject, n.node_id, n.location,
         |    row_number() OVER (PARTITION BY s.subject ORDER BY
         |      ${key("lsc.q48", "w.w_loc")}, lsc.q48, n.location,
         |      ${key("nsc.q48", "n.eff_w")}, nsc.q48, n.node_id) AS rnk
         |  FROM subs s
         |  JOIN n1 n ON n.sync_ok AND n.avail
         |  JOIN w1 w ON w.location = n.location AND w.w_loc > 0
         |  JOIN sc lsc ON lsc.subject = s.subject AND lsc.role = 'L'
         |    AND lsc.tid = n.location
         |  JOIN sc nsc ON nsc.subject = s.subject AND nsc.role = 'N'
         |    AND nsc.tid = n.node_id),
         |n2 AS (
         |  SELECT node_id, location,
         |    (CASE WHEN region = 'x' THEN weight*3000//1000
         |          ELSE weight END)::BIGINT AS eff_w,
         |    (kind <> 'User') AS sync_ok, (tier = 'ssd') AS passes,
         |    isfull, draining
         |  FROM nodes),
         |n2a AS (
         |  SELECT *, (NOT isfull AND NOT draining AND eff_w > 0) AS avail
         |  FROM n2),
         |w2 AS (
         |  SELECT location,
         |    SUM(CASE WHEN sync_ok AND passes THEN eff_w ELSE 0 END)::BIGINT
         |      AS w_loc
         |  FROM n2a GROUP BY 1),
         |ovr AS (SELECT subject FROM subs WHERE o%3 = 0),
         |pin2 AS (
         |  SELECT v.subject, n.node_id, n.location,
         |    CAST(row_number() OVER (PARTITION BY v.subject ORDER BY p.pos)
         |      AS INT) AS pin_rank
         |  FROM ovr v
         |  JOIN (VALUES ('n03',1),('n09',2)) p(node_id, pos) ON TRUE
         |  JOIN n2a n ON n.node_id = p.node_id
         |  WHERE n.sync_ok AND n.avail AND p.node_id NOT IN ('n09')),
         |pin2c AS (SELECT * FROM pin2 WHERE pin_rank <= 2),
         |pstat AS (
         |  SELECT subject, CAST(COUNT(*) AS INT) AS n_pins,
         |    list(location) AS pin_locs
         |  FROM pin2c GROUP BY 1),
         |c2 AS (
         |  SELECT s.subject, n.node_id, n.location, w.w_loc, n.eff_w,
         |    COALESCE(ps.n_pins, 0) AS n_pins,
         |    lsc.q48 AS l_score, nsc.q48 AS n_score
         |  FROM subs s
         |  LEFT JOIN pstat ps ON ps.subject = s.subject
         |  JOIN n2a n ON n.sync_ok AND n.avail AND n.passes
         |  JOIN w2 w ON w.location = n.location AND w.w_loc > 0
         |  JOIN sc lsc ON lsc.subject = s.subject AND lsc.role = 'L'
         |    AND lsc.tid = n.location
         |  JOIN sc nsc ON nsc.subject = s.subject AND nsc.role = 'N'
         |    AND nsc.tid = n.node_id
         |  WHERE NOT (s.subject IN (SELECT subject FROM ovr)
         |      AND n.node_id IN ('n03','n09'))
         |    AND NOT (ps.pin_locs IS NOT NULL
         |      AND list_contains(ps.pin_locs, n.location))),
         |in2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY subject, location
         |    ORDER BY ${key("n_score", "eff_w")}, n_score, node_id)
         |    AS in_loc
         |  FROM c2),
         |r2 AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY subject
         |    ORDER BY ${key("l_score", "w_loc")}, l_score, location)
         |    AS INT) AS walk_rank
         |  FROM in2 WHERE in_loc = 1)
         |SELECT * FROM (
         |  SELECT 's1' AS scenario, subject, CAST(rnk AS INT) AS rank,
         |    node_id, location, 'walk' AS via
         |  FROM r1 WHERE rnk <= 3
         |  UNION ALL
         |  SELECT 's2', subject, walk_rank + n_pins, node_id, location,
         |    'walk'
         |  FROM r2 WHERE walk_rank + n_pins <= 2
         |  UNION ALL
         |  SELECT 's2', subject, pin_rank, node_id, location, 'pin'
         |  FROM pin2c)
         |ORDER BY scenario, subject, rank""".stripMargin
    },

    "ob1_onboarding_claims" -> {
      val now = 1700000000000L
      s"""WITH store AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
         |      AS enrollment_id,
         |    'h'||(o_orderkey%1000) AS s_hash,
         |    CASE WHEN o_orderkey%5 = 0 THEN ${now - 10000L}
         |         ELSE ${now + 600000L} END AS expires_at,
         |    CASE o_orderkey%4 WHEN 0 THEN 'Available'
         |      WHEN 1 THEN 'Reserved' WHEN 2 THEN 'Finalizing'
         |      ELSE 'Consumed' END AS state,
         |    CASE WHEN o_orderkey%4 <> 0 THEN 'n'||(o_orderkey%3) END
         |      AS state_node,
         |    CASE WHEN o_orderkey%4 = 1 THEN
         |      CASE WHEN o_orderkey%7 < 4 THEN ${now + 30000L}
         |           ELSE ${now - 30000L} END END AS state_expires_at
         |  FROM orders WHERE o_orderkey%3 = 2),
         |reqs AS (
         |  SELECT o_orderkey AS req_id,
         |    CASE WHEN o_orderkey%23 = 0
         |      THEN lpad(CAST(o_orderkey + 9000000 AS VARCHAR), 12, '0')
         |      ELSE lpad(CAST(o_orderkey AS VARCHAR), 12, '0') END
         |      AS enrollment_id,
         |    CASE WHEN o_orderkey%2 = 0 THEN 'reserve' ELSE 'consume' END
         |      AS op,
         |    'n'||(o_orderkey%11%3) AS node_id,
         |    CASE WHEN o_orderkey%17 = 0 THEN 'bad'
         |         ELSE 'h'||(o_orderkey%1000) END AS secret_hash
         |  FROM orders WHERE o_orderkey%3 = 2),
         |j AS (
         |  SELECT q.*, s.s_hash, s.expires_at, s.state, s.state_node,
         |    s.state_expires_at,
         |    s.state_node = q.node_id AS same,
         |    s.expires_at < $now AS rec_exp,
         |    s.state_expires_at < $now AS res_exp,
         |    s.s_hash <> q.secret_hash AS hash_bad
         |  FROM reqs q LEFT JOIN store s
         |    ON s.enrollment_id = q.enrollment_id),
         |v AS (
         |  SELECT *,
         |    CASE WHEN op = 'reserve' THEN
         |      CASE WHEN s_hash IS NULL THEN 'not_found'
         |        WHEN hash_bad THEN 'invalid_secret'
         |        WHEN state = 'Available' THEN
         |          CASE WHEN rec_exp THEN 'expired' ELSE 'reserved' END
         |        WHEN state = 'Reserved' AND COALESCE(same, FALSE)
         |          THEN 'reserved'
         |        WHEN state = 'Reserved' THEN
         |          CASE WHEN NOT res_exp THEN 'already_claimed'
         |            WHEN rec_exp THEN 'expired' ELSE 'reserved' END
         |        WHEN state IN ('Finalizing','Consumed')
         |          AND COALESCE(same, FALSE) THEN 'ok_idempotent'
         |        ELSE 'already_claimed' END
         |    ELSE
         |      CASE WHEN s_hash IS NULL THEN 'not_found'
         |        WHEN rec_exp AND NOT (
         |          (state = 'Reserved' AND COALESCE(same, FALSE)
         |            AND NOT res_exp)
         |          OR (state IN ('Finalizing','Consumed')
         |            AND COALESCE(same, FALSE))) THEN 'expired'
         |        WHEN hash_bad THEN 'invalid_secret'
         |        WHEN state = 'Available' THEN 'consumed'
         |        WHEN state IN ('Reserved','Finalizing')
         |          AND COALESCE(same, FALSE) THEN 'consumed'
         |        WHEN state = 'Consumed' AND COALESCE(same, FALSE)
         |          THEN 'ok_idempotent'
         |        ELSE 'already_claimed' END END AS verdict
         |  FROM j)
         |SELECT req_id, enrollment_id, op, node_id, verdict,
         |  CASE WHEN op = 'consume' AND verdict = 'consumed' THEN TRUE
         |       WHEN op = 'consume' AND verdict = 'ok_idempotent'
         |         THEN FALSE END AS consumed_now,
         |  CAST(CASE WHEN verdict = 'reserved' THEN ${now + 120000L} END
         |    AS BIGINT) AS reserved_until_ms
         |FROM v ORDER BY req_id""".stripMargin
    },

    "rt1_storage_routing" ->
      s"""WITH cat AS (
         |  SELECT * FROM (VALUES
         |    ('default', NULL, true, false),
         |    ('ssd-a', 'hot', true, false),
         |    ('ssd-b', 'hot', true, true),
         |    ('cold-1', 'cold', true, false),
         |    ('arch-1', 'archive', false, false),
         |    ('cap-1', 'capped', true, true))
         |   t(name, clazz, allow_tenants, isfull)),
         |gb AS (SELECT * FROM (VALUES ('grp-0','gb-1'), ('grp-1','gb-1'))
         |  t(group_id, backend_id)),
         |br AS (
         |  SELECT * FROM (VALUES
         |    ('bkt-0', 0, 'data/a/x.bin', true, 'node', 'ssd-a'),
         |    ('bkt-0', 1, 'data/a/', false, 'class', 'hot'),
         |    ('bkt-0', 2, 'data/', false, 'class', 'archive'),
         |    ('bkt-0', 3, '', false, 'node', 'cold-1'),
         |    ('bkt-1', 0, 'data/b/', false, 'node', 'missing-x'),
         |    ('bkt-1', 1, '', false, 'group', 'gb-1'),
         |    ('bkt-2', 0, 'data/', false, 'group', 'gb-9'),
         |    ('bkt-2', 1, 'data/c/', false, 'node', 'cap-1'),
         |    ('bkt-3', 0, 'zz', true, 'class', 'capped'),
         |    ('bkt-3', 1, 'data/', false, 'class', 'capped'))
         |   t(bucket, rule_idx, key_prefix, exact, kind, target)),
         |gd AS (SELECT * FROM (VALUES ('grp-0','class','cold'),
         |  ('grp-1','node','ssd-a')) t(group_id, kind, target)),
         |nru AS (
         |  SELECT * FROM (VALUES
         |    (0, 'grp-2', NULL, NULL, 'class', 'hot'),
         |    (1, NULL, 'bkt-4', 'ops/', 'class', 'archive'),
         |    (2, NULL, 'bkt-5', NULL, 'node', 'cap-1'))
         |   t(rule_idx, r_group, r_bucket, r_prefix, kind, target)),
         |ct AS (SELECT clazz, MIN(name) AS c_backend FROM cat
         |  WHERE NOT isfull AND clazz IS NOT NULL AND allow_tenants
         |  GROUP BY 1),
         |co AS (SELECT clazz, MIN(name) AS c_backend FROM cat
         |  WHERE NOT isfull AND clazz IS NOT NULL GROUP BY 1),
         |reqs AS (
         |  SELECT o_orderkey AS req_id,
         |    'grp-'||(o_orderkey%4) AS group_id,
         |    'bkt-'||(o_orderkey%6) AS bucket,
         |    CASE o_orderkey%7 WHEN 0 THEN 'data/a/x.bin'
         |      WHEN 1 THEN 'data/a/y' WHEN 2 THEN 'data/b/z'
         |      WHEN 3 THEN 'data/c/k' WHEN 4 THEN 'data/q'
         |      WHEN 5 THEN 'ops/r' ELSE 'zz' END AS key
         |  FROM orders WHERE o_orderkey%71 = 3),
         |cands AS (
         |  SELECT q.req_id, q.group_id, r.kind, r.target,
         |    0 AS tier, CAST(r.rule_idx AS BIGINT) AS a,
         |    CAST(0 AS BIGINT) AS b, FALSE AS op
         |  FROM reqs q JOIN br r ON r.bucket = q.bucket
         |  WHERE r.exact AND r.key_prefix = q.key
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, r.kind, r.target,
         |    1, -len(r.key_prefix), r.rule_idx, FALSE
         |  FROM reqs q JOIN br r ON r.bucket = q.bucket
         |  WHERE NOT r.exact AND starts_with(q.key, r.key_prefix)
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, g.kind, g.target, 2, 0, 0, FALSE
         |  FROM reqs q JOIN gd g ON g.group_id = q.group_id
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, r.kind, r.target, 3,
         |    -((CASE WHEN r.r_group IS NOT NULL THEN 1 ELSE 0 END +
         |       CASE WHEN r.r_bucket IS NOT NULL THEN 1 ELSE 0 END +
         |       CASE WHEN r.r_prefix IS NOT NULL THEN 1 ELSE 0 END)
         |       * 100000 + COALESCE(len(r.r_prefix), 0)),
         |    r.rule_idx, TRUE
         |  FROM reqs q JOIN nru r ON
         |    (r.r_group IS NULL OR r.r_group = q.group_id)
         |    AND (r.r_bucket IS NULL OR r.r_bucket = q.bucket)
         |    AND (r.r_prefix IS NULL OR starts_with(q.key, r.r_prefix))),
         |judged AS (
         |  SELECT c.*,
         |    CASE WHEN c.kind = 'node' THEN
         |        CASE WHEN n.name IS NULL THEN 'error:unknown_backend:'
         |          WHEN n.isfull THEN 'error:backend_full:'
         |          ELSE 'ok::'||c.target END
         |      WHEN c.kind = 'group' THEN
         |        CASE WHEN g.backend_id IS NULL
         |            THEN 'error:unknown_group_backend:'
         |          ELSE 'ok::group:'||c.target END
         |      ELSE CASE
         |        WHEN c.op AND o2.c_backend IS NOT NULL
         |          THEN 'ok::'||o2.c_backend
         |        WHEN NOT c.op AND t2.c_backend IS NOT NULL
         |          THEN 'ok::'||t2.c_backend
         |        ELSE 'miss::' END END AS oc
         |  FROM cands c
         |  LEFT JOIN cat n ON n.name = c.target AND c.kind = 'node'
         |  LEFT JOIN gb g ON g.backend_id = c.target
         |    AND g.group_id = c.group_id AND c.kind = 'group'
         |  LEFT JOIN ct t2 ON t2.clazz = c.target AND c.kind = 'class'
         |  LEFT JOIN co o2 ON o2.clazz = c.target AND c.kind = 'class'),
         |decided AS (
         |  SELECT req_id, oc,
         |    row_number() OVER (PARTITION BY req_id ORDER BY tier, a, b)
         |      AS rn
         |  FROM judged WHERE oc NOT LIKE 'miss%'),
         |resolved AS (
         |  SELECT q.req_id, q.group_id, q.bucket, q.key,
         |    COALESCE(d.oc, 'ok::default') AS oc
         |  FROM reqs q
         |  LEFT JOIN decided d ON d.req_id = q.req_id AND d.rn = 1)
         |SELECT r.req_id, r.group_id, r.bucket, r.key,
         |  CASE WHEN r.oc LIKE 'ok%' THEN 'ok' ELSE 'error' END AS verdict,
         |  CASE WHEN r.oc LIKE 'error%'
         |    THEN string_split(r.oc, ':')[2] END AS error,
         |  CASE WHEN r.oc LIKE 'ok%'
         |    THEN substring(r.oc, 5) END AS backend,
         |  c.clazz AS storage_class
         |FROM resolved r
         |LEFT JOIN cat c ON c.name = substring(r.oc, 5)
         |  AND r.oc LIKE 'ok%'
         |ORDER BY r.req_id""".stripMargin,

    "rt2_routing_admission" ->
      s"""WITH $routingAdmissionCte
         |SELECT req_id, bucket, group_id,
         |  CASE WHEN err IS NULL THEN 'ok' ELSE 'error' END AS verdict,
         |  string_split(err, ':')[1] AS error,
         |  CASE WHEN string_split(err, ':')[1] IN
         |    ('duplicate_rule','invalid_class','foreign_backend')
         |    THEN string_split(err, ':')[2] END AS error_detail,
         |  CASE WHEN err IS NULL THEN n_rules END AS n_rules
         |FROM radmit
         |ORDER BY req_id""".stripMargin,

    "rt3_admitted_resolve" ->
      s"""WITH $routingAdmissionCte,
         |rwin AS (SELECT bucket, max(req_id) AS req_id FROM radmit
         |  WHERE err IS NULL GROUP BY 1),
         |rstore AS (
         |  SELECT w.bucket, r.rule_idx, r.key_prefix, r.exact, r.kind,
         |    r.target
         |  FROM rwin w JOIN rrules r ON r.req_id = w.req_id),
         |cat AS (
         |  SELECT * FROM (VALUES
         |    ('default', NULL, true, false),
         |    ('hot-1', 'hot', true, false),
         |    ('cold-1', 'cold-2', true, false),
         |    ('res-1', 'deep', false, false))
         |   t(name, clazz, allow_tenants, isfull)),
         |gd AS (SELECT * FROM (VALUES ('grp-1','class','cold-2'),
         |  ('grp-2','group','gb-3')) t(group_id, kind, target)),
         |nru AS (SELECT * FROM (VALUES
         |  (0, NULL, 'bkt-5', 'deep/', 'class', 'deep'))
         |  t(rule_idx, r_group, r_bucket, r_prefix, kind, target)),
         |ct AS (SELECT clazz, MIN(name) AS c_backend FROM cat
         |  WHERE NOT isfull AND clazz IS NOT NULL AND allow_tenants
         |  GROUP BY 1),
         |co AS (SELECT clazz, MIN(name) AS c_backend FROM cat
         |  WHERE NOT isfull AND clazz IS NOT NULL GROUP BY 1),
         |reqs AS (
         |  SELECT o_orderkey AS req_id,
         |    CASE o_orderkey%4 WHEN 0 THEN 'grp-0' WHEN 1 THEN 'grp-1'
         |      WHEN 2 THEN 'grp-2' ELSE 'grp-4' END AS group_id,
         |    'bkt-'||(o_orderkey%6) AS bucket,
         |    CASE o_orderkey%5 WHEN 0 THEN 'a/x' WHEN 1 THEN 'b/y'
         |      WHEN 2 THEN 'deep/path/z' WHEN 3 THEN 'q' ELSE '' END
         |      AS key
         |  FROM orders WHERE o_orderkey%53 = 7),
         |cands AS (
         |  SELECT q.req_id, q.group_id, r.kind, r.target,
         |    0 AS tier, CAST(r.rule_idx AS BIGINT) AS a,
         |    CAST(0 AS BIGINT) AS b, FALSE AS op
         |  FROM reqs q JOIN rstore r ON r.bucket = q.bucket
         |  WHERE r.exact AND r.key_prefix = q.key
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, r.kind, r.target,
         |    1, -len(r.key_prefix), r.rule_idx, FALSE
         |  FROM reqs q JOIN rstore r ON r.bucket = q.bucket
         |  WHERE NOT r.exact AND starts_with(q.key, r.key_prefix)
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, g.kind, g.target, 2, 0, 0, FALSE
         |  FROM reqs q JOIN gd g ON g.group_id = q.group_id
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, r.kind, r.target, 3,
         |    -((CASE WHEN r.r_group IS NOT NULL THEN 1 ELSE 0 END +
         |       CASE WHEN r.r_bucket IS NOT NULL THEN 1 ELSE 0 END +
         |       CASE WHEN r.r_prefix IS NOT NULL THEN 1 ELSE 0 END)
         |       * 100000 + COALESCE(len(r.r_prefix), 0)),
         |    r.rule_idx, TRUE
         |  FROM reqs q JOIN nru r ON
         |    (r.r_group IS NULL OR r.r_group = q.group_id)
         |    AND (r.r_bucket IS NULL OR r.r_bucket = q.bucket)
         |    AND (r.r_prefix IS NULL OR starts_with(q.key, r.r_prefix))),
         |judged AS (
         |  SELECT c.*,
         |    CASE WHEN c.kind = 'node' THEN
         |        CASE WHEN n.name IS NULL THEN 'error:unknown_backend:'
         |          WHEN n.isfull THEN 'error:backend_full:'
         |          ELSE 'ok::'||c.target END
         |      WHEN c.kind = 'group' THEN
         |        CASE WHEN g.backend_id IS NULL
         |            THEN 'error:unknown_group_backend:'
         |          ELSE 'ok::group:'||c.target END
         |      ELSE CASE
         |        WHEN c.op AND o2.c_backend IS NOT NULL
         |          THEN 'ok::'||o2.c_backend
         |        WHEN NOT c.op AND t2.c_backend IS NOT NULL
         |          THEN 'ok::'||t2.c_backend
         |        ELSE 'miss::' END END AS oc
         |  FROM cands c
         |  LEFT JOIN cat n ON n.name = c.target AND c.kind = 'node'
         |  LEFT JOIN rgb g ON g.backend_id = c.target
         |    AND g.group_id = c.group_id AND c.kind = 'group'
         |  LEFT JOIN ct t2 ON t2.clazz = c.target AND c.kind = 'class'
         |  LEFT JOIN co o2 ON o2.clazz = c.target AND c.kind = 'class'),
         |decided AS (
         |  SELECT req_id, oc,
         |    row_number() OVER (PARTITION BY req_id ORDER BY tier, a, b)
         |      AS rn
         |  FROM judged WHERE oc NOT LIKE 'miss%'),
         |resolved AS (
         |  SELECT q.req_id, q.group_id, q.bucket, q.key,
         |    COALESCE(d.oc, 'ok::default') AS oc
         |  FROM reqs q
         |  LEFT JOIN decided d ON d.req_id = q.req_id AND d.rn = 1)
         |SELECT r.req_id, r.group_id, r.bucket, r.key,
         |  CASE WHEN r.oc LIKE 'ok%' THEN 'ok' ELSE 'error' END AS verdict,
         |  CASE WHEN r.oc LIKE 'error%'
         |    THEN string_split(r.oc, ':')[2] END AS error,
         |  CASE WHEN r.oc LIKE 'ok%'
         |    THEN substring(r.oc, 5) END AS backend,
         |  c.clazz AS storage_class
         |FROM resolved r
         |LEFT JOIN cat c ON c.name = substring(r.oc, 5)
         |  AND r.oc LIKE 'ok%'
         |ORDER BY r.req_id""".stripMargin,

    // erc2: the ladder restricted to the overlay/guard arms — reducer off,
    // strategy present, storage kind — so every outcome is a closed form:
    // gz sorts first (start 0) then g1 (2051) then gbad (2^20); fresh
    // scenarios ignore stored grants and mint from the seed ([3,1027)) or
    // the materialized actor pool ([8195,9219))
    "erc2_overlay_band_guard" ->
      s"""WITH e2s AS (
         |  SELECT DISTINCT CAST(o_orderkey % 151 AS BIGINT) AS sc
         |  FROM orders),
         |e2 AS (SELECT sc,
         |  sc % 5 <> 0 AS doc,
         |  sc % 3 = 0 AS has_mat,
         |  sc % 2 = 0 AS mat_mine,
         |  sc % 7 = 1 AS g1, sc % 11 = 2 AS gbad, sc % 13 = 3 AS gz
         |  FROM e2s),
         |e2v AS (SELECT sc, doc,
         |  NOT doc AS fresh,
         |  NOT doc AND NOT has_mat AS seed,
         |  CASE
         |    WHEN doc AND (gz OR (gbad AND NOT g1))
         |      THEN 'invalid_band_start'
         |    WHEN NOT doc AND has_mat AND NOT mat_mine
         |      THEN 'coordinator_pool_missing'
         |  END AS err,
         |  CASE
         |    WHEN doc AND g1 AND NOT gz THEN 2051
         |    WHEN NOT doc AND has_mat AND mat_mine THEN 8195
         |    ELSE 3 END AS rs,
         |  CASE
         |    WHEN doc AND g1 AND NOT gz THEN 3075
         |    WHEN NOT doc AND has_mat AND mat_mine THEN 9219
         |    ELSE 1027 END AS re,
         |  doc AND g1 AND NOT gz AS reused
         |  FROM e2)
         |SELECT sc AS sc_id,
         |  CASE WHEN err IS NOT NULL THEN 'error' ELSE 'ok_write' END
         |    AS verdict,
         |  err AS error,
         |  CASE WHEN err IS NULL THEN fresh END AS fresh,
         |  CASE WHEN err IS NULL THEN true END AS ev_node,
         |  CASE WHEN err IS NULL THEN seed END AS ev_seed,
         |  CASE WHEN err IS NULL THEN true END AS ev_range,
         |  CASE WHEN err IS NULL THEN true END AS ev_binding,
         |  CASE WHEN err IS NULL THEN false END AS ev_transfer,
         |  CAST(CASE WHEN err IS NULL THEN rs END AS BIGINT)
         |    AS range_start,
         |  CAST(CASE WHEN err IS NULL THEN re END AS BIGINT) AS range_end,
         |  CASE WHEN err IS NULL THEN reused END AS range_reused,
         |  CAST(CASE WHEN err IS NULL THEN rs END AS BIGINT)
         |    AS binding_handle,
         |  CAST(NULL AS BIGINT) AS transfer_start,
         |  CAST(NULL AS BIGINT) AS transfer_end
         |FROM e2v
         |ORDER BY sc_id""".stripMargin,

    "pg1_group_routing_admission" ->
      s"""WITH $groupRoutingCte
         |SELECT req_id, group_id,
         |  CASE WHEN err IS NULL THEN 'ok' ELSE 'error' END AS verdict,
         |  string_split(err, ':')[1] AS error,
         |  CASE WHEN string_split(err, ':')[1] IN
         |    ('foreign_backend','invalid_class')
         |    THEN string_split(err, ':')[2] END AS error_detail,
         |  CASE WHEN err IS NULL THEN kind END AS kind,
         |  CASE WHEN err IS NULL THEN target END AS target
         |FROM pgadm
         |ORDER BY req_id""".stripMargin,

    "pg2_group_routing_read" ->
      s"""WITH $groupRoutingCte,
         |pgprobe AS (SELECT DISTINCT 'grp-'||(o_orderkey%8) AS group_id
         |  FROM orders)
         |SELECT p.group_id, s.group_id IS NOT NULL AS has_record,
         |  s.kind, s.target, s.set_by
         |FROM pgprobe p LEFT JOIN pgstore s USING (group_id)
         |ORDER BY p.group_id""".stripMargin,

    "pg3_group_default_resolve" ->
      s"""WITH $groupRoutingCte,
         |p3cat AS (
         |  SELECT * FROM (VALUES
         |    ('default', NULL, true, false),
         |    ('hot-1', 'hot', true, false),
         |    ('cold-1', 'cold-2', true, false),
         |    ('arch-1', 'archive', false, false))
         |   t(name, clazz, allow_tenants, isfull)),
         |p3ct AS (SELECT clazz, MIN(name) AS c_backend FROM p3cat
         |  WHERE NOT isfull AND clazz IS NOT NULL AND allow_tenants
         |  GROUP BY 1),
         |p3co AS (SELECT clazz, MIN(name) AS c_backend FROM p3cat
         |  WHERE NOT isfull AND clazz IS NOT NULL GROUP BY 1),
         |p3req AS (
         |  SELECT o_orderkey AS req_id,
         |    'grp-'||(o_orderkey%6) AS group_id,
         |    'bkt-'||(o_orderkey%2) AS bucket,
         |    CASE o_orderkey%3 WHEN 0 THEN 'a/x' WHEN 1 THEN 'ops/r'
         |      ELSE 'q' END AS key
         |  FROM orders WHERE o_orderkey%43 = 2),
         |p3cand AS (
         |  SELECT q.req_id, q.group_id, s.kind, s.target,
         |    2 AS tier, CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b,
         |    FALSE AS op
         |  FROM p3req q JOIN pgstore s ON s.group_id = q.group_id
         |    AND s.kind IS NOT NULL
         |  UNION ALL
         |  SELECT q.req_id, q.group_id, 'class', 'archive', 3,
         |    -(1*100000 + 4), 0, TRUE
         |  FROM p3req q WHERE starts_with(q.key, 'ops/')),
         |p3judged AS (
         |  SELECT c.*,
         |    CASE WHEN c.kind = 'group' THEN
         |        CASE WHEN g.backend_id IS NULL
         |            THEN 'error:unknown_group_backend:'
         |          ELSE 'ok::group:'||c.target END
         |      ELSE CASE
         |        WHEN c.op AND o2.c_backend IS NOT NULL
         |          THEN 'ok::'||o2.c_backend
         |        WHEN NOT c.op AND t2.c_backend IS NOT NULL
         |          THEN 'ok::'||t2.c_backend
         |        ELSE 'miss::' END END AS oc
         |  FROM p3cand c
         |  LEFT JOIN pgown g ON g.backend_id = c.target
         |    AND g.group_id = c.group_id AND c.kind = 'group'
         |  LEFT JOIN p3ct t2 ON t2.clazz = c.target AND c.kind = 'class'
         |  LEFT JOIN p3co o2 ON o2.clazz = c.target AND c.kind = 'class'),
         |p3dec AS (
         |  SELECT req_id, oc,
         |    row_number() OVER (PARTITION BY req_id ORDER BY tier, a, b)
         |      AS rn
         |  FROM p3judged WHERE oc NOT LIKE 'miss%'),
         |p3res AS (
         |  SELECT q.req_id, q.group_id, q.bucket, q.key,
         |    COALESCE(d.oc, 'ok::default') AS oc
         |  FROM p3req q
         |  LEFT JOIN p3dec d ON d.req_id = q.req_id AND d.rn = 1)
         |SELECT r.req_id, r.group_id, r.bucket, r.key,
         |  CASE WHEN r.oc LIKE 'ok%' THEN 'ok' ELSE 'error' END AS verdict,
         |  CASE WHEN r.oc LIKE 'error%'
         |    THEN string_split(r.oc, ':')[2] END AS error,
         |  CASE WHEN r.oc LIKE 'ok%'
         |    THEN substring(r.oc, 5) END AS backend,
         |  c.clazz AS storage_class
         |FROM p3res r
         |LEFT JOIN p3cat c ON c.name = substring(r.oc, 5)
         |  AND r.oc LIKE 'ok%'
         |ORDER BY r.req_id""".stripMargin,

    // sv1: the Spark side compares BLAKE3 entry digests; digest equality is
    // by construction multiset equality of the canonical entry tuples, and
    // every non-key entry field is a function of o — so the oracle's
    // fingerprint over (o, generation) is the same equivalence relation.
    "sv1_shard_verify" ->
      s"""WITH svpl AS (
         |  SELECT s.strategy_id, sh.shard,
         |    CASE s.strategy_id WHEN 'sA' THEN 0 ELSE 3 END AS base
         |  FROM (VALUES ('sA'), ('sB')) s(strategy_id),
         |       range(0, 8) sh(shard)),
         |svh0 AS (
         |  SELECT strategy_id, shard, 1 AS pos,
         |    'n'||((base+shard)%6) AS node_id FROM svpl
         |  UNION ALL
         |  SELECT strategy_id, shard, 2, 'n'||((base+shard+2)%6)
         |  FROM svpl WHERE shard%4 <> 1
         |  UNION ALL
         |  SELECT strategy_id, shard, 3, 'n'||((base+shard+4)%6)
         |  FROM svpl WHERE shard%3 = 0),
         |svh AS (
         |  SELECT strategy_id, shard, node_id,
         |    ROW_NUMBER() OVER (PARTITION BY strategy_id, shard
         |      ORDER BY pos) AS rnk
         |  FROM svh0),
         |svdocs AS (
         |  SELECT o_orderkey AS o,
         |    CASE WHEN o_orderkey%2=0 THEN 'sA' ELSE 'sB' END AS strategy_id,
         |    (o_orderkey//2)%8 AS shard
         |  FROM orders),
         |svfp AS (
         |  SELECT h.node_id, d.strategy_id, d.shard,
         |    COUNT(*) AS n_entries,
         |    md5(string_agg(
         |      d.o||':'||(d.o%5 + 1 + CASE WHEN h.rnk=2 AND d.o%7600=0
         |                             THEN 1 ELSE 0 END),
         |      '|' ORDER BY d.o)) AS fp
         |  FROM svdocs d JOIN svh h USING (strategy_id, shard)
         |  GROUP BY 1, 2, 3),
         |svst AS (
         |  SELECT h.strategy_id, h.shard, h.node_id, h.rnk,
         |    NOT (h.node_id='n1' AND h.shard%6=1) AS topic_exists,
         |    md5(h.strategy_id||h.shard||
         |      CASE WHEN h.shard%5=4 AND h.rnk=2 THEN 'x' ELSE '' END)
         |      AS topic_digest,
         |    COALESCE(f.n_entries, 0) AS n_entries,
         |    COALESCE(f.fp, 'EMPTY') AS fp
         |  FROM svh h
         |  LEFT JOIN svfp f ON f.node_id=h.node_id
         |    AND f.strategy_id=h.strategy_id AND f.shard=h.shard),
         |svrc AS (SELECT 'n'||i AS node_id, i<>4 AS is_reachable
         |         FROM range(0, 6) t(i)),
         |svco AS (
         |  SELECT a.strategy_id, a.shard, a.node_id,
         |    b.node_id AS co_node, b.rnk AS co_rank, b.fp AS co_fp,
         |    b.topic_digest AS co_topic_digest, r.is_reachable
         |  FROM svst a
         |  JOIN svst b ON a.strategy_id=b.strategy_id AND a.shard=b.shard
         |    AND a.node_id<>b.node_id
         |  JOIN svrc r ON r.node_id=b.node_id),
         |svnco AS (SELECT strategy_id, shard, node_id, COUNT(*) AS n_co
         |          FROM svco GROUP BY 1, 2, 3),
         |svfirst AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY strategy_id, shard,
         |      node_id ORDER BY co_rank) AS rn
         |    FROM svco WHERE is_reachable) t
         |  WHERE rn=1),
         |svmk AS (SELECT strategy_id, shard, node_id FROM svh
         |         WHERE rnk=1 AND shard%7=6)
         |SELECT s.strategy_id, s.shard, s.node_id,
         |  CASE WHEN m.node_id IS NOT NULL THEN 'already_verified'
         |       WHEN COALESCE(n.n_co,0)=0 AND s.topic_exists
         |         THEN 'newly_verified'
         |       WHEN COALESCE(n.n_co,0)=0 THEN 'unverified'
         |       WHEN fc.co_node IS NULL THEN 'unverified'
         |       WHEN s.topic_exists AND s.topic_digest=fc.co_topic_digest
         |         AND s.fp=fc.co_fp THEN 'newly_verified'
         |       ELSE 'unverified' END AS verdict,
         |  CASE WHEN m.node_id IS NULL AND COALESCE(n.n_co,0)>0
         |         AND s.topic_exists AND s.topic_digest=fc.co_topic_digest
         |         AND s.fp=fc.co_fp
         |       THEN fc.co_node END AS against,
         |  COALESCE(n.n_co, 0) AS n_co, s.n_entries
         |FROM svst s
         |LEFT JOIN svmk m ON m.strategy_id=s.strategy_id
         |  AND m.shard=s.shard AND m.node_id=s.node_id
         |LEFT JOIN svnco n ON n.strategy_id=s.strategy_id
         |  AND n.shard=s.shard AND n.node_id=s.node_id
         |LEFT JOIN svfirst fc ON fc.strategy_id=s.strategy_id
         |  AND fc.shard=s.shard AND fc.node_id=s.node_id
         |ORDER BY s.strategy_id, s.shard, s.node_id""".stripMargin,

    "erc1_ensure_realm_config" ->
      s"""WITH escs AS (
         |  SELECT DISTINCT CAST(o_orderkey % 151 AS BIGINT) AS sc
         |  FROM orders),
         |ep AS (SELECT sc,
         |  sc % 17 <> 0 AS doc_exists,
         |  sc % 2 = 0 AS create_ok,
         |  CASE WHEN sc % 4 = 0 THEN 'A' ELSE 'T' END AS target,
         |  CASE WHEN sc % 3 = 0 THEN 'management' ELSE 'storage' END
         |    AS kind,
         |  sc % 5 <> 4 AS rkm,
         |  sc % 4 <> 1 AS red_ex,
         |  sc % 23 = 11 AS red_mis,
         |  sc % 37 <> 13 AS has_strategy
         | FROM escs),
         |egr0 AS (
         |  SELECT sc, 'g1' AS gid, 'T' AS gowner, 2051 AS gs, 3075 AS ge
         |  FROM escs WHERE sc%8 IN (1,2)
         |  UNION ALL SELECT sc, 'g2', 'B', 2560, 3100 FROM escs
         |    WHERE sc%8 = 1
         |  UNION ALL SELECT sc, 'g3', 'A', 3, 3 + (sc%3)*1024 FROM escs
         |    WHERE sc%3 > 0
         |  UNION ALL SELECT sc, 'g4', 'B', 3, 15363 FROM escs
         |    WHERE sc%31 = 21),
         |egr AS (SELECT g.* FROM egr0 g JOIN ep ON ep.sc = g.sc
         |        WHERE ep.doc_exists),
         |eus AS (SELECT sc, gid, gs, ge FROM (
         |  SELECT g.sc, g.gid, g.gs, g.ge,
         |    ROW_NUMBER() OVER (PARTITION BY g.sc ORDER BY g.gs, g.gid)
         |      AS rn
         |  FROM egr g JOIN ep ON ep.sc = g.sc
         |  WHERE g.gowner = ep.target AND NOT EXISTS (
         |    SELECT 1 FROM egr o WHERE o.sc=g.sc AND o.gid<>g.gid
         |      AND o.gs < g.ge AND g.gs < o.ge)) t WHERE rn = 1),
         |esp AS (
         |  SELECT p.sc, 0 AS si, 3 AS ss, 6147 AS se FROM ep p
         |  WHERE p.doc_exists AND p.sc%19 <> 6
         |  UNION ALL SELECT p.sc, 1, 8195, 10243 FROM ep p
         |  WHERE p.doc_exists AND p.sc%6 < 3
         |  UNION ALL SELECT p.sc, 0, 3, 1047555 FROM ep p
         |  WHERE NOT p.doc_exists AND p.create_ok),
         |ets AS (
         |  SELECT DISTINCT p.sc FROM ep p
         |  WHERE p.target='T' AND p.doc_exists AND p.sc%9 = 3
         |  UNION
         |  SELECT s.sc FROM esp s JOIN ep p ON p.sc=s.sc
         |  WHERE p.target='A'),
         |ebn0 AS (SELECT sc, si, ss,
         |           UNNEST(range(0, (se-ss)//1024)) AS b FROM esp),
         |ebn AS (SELECT sc, si, b, ss + b*1024 AS fs FROM ebn0),
         |emint AS (SELECT sc, fs FROM (
         |  SELECT e.sc, e.fs,
         |    ROW_NUMBER() OVER (PARTITION BY e.sc ORDER BY e.si, e.b)
         |      AS rn
         |  FROM ebn e WHERE NOT EXISTS (
         |    SELECT 1 FROM egr g WHERE g.sc=e.sc
         |      AND g.gs < e.fs + 1024 AND e.fs < g.ge)) t
         |  WHERE rn = 1),
         |eas AS (SELECT p.sc,
         |   COALESCE(u.gid, 'new') AS rid,
         |   COALESCE(u.gs, m.fs) AS rs,
         |   COALESCE(u.ge, m.fs + 1024) AS re,
         |   u.gid IS NOT NULL AS reused,
         |   EXISTS (SELECT 1 FROM esp s WHERE s.sc = p.sc) AS has_spans,
         |   m.fs IS NOT NULL AS has_free
         | FROM ep p LEFT JOIN eus u ON u.sc = p.sc
         | LEFT JOIN emint m ON m.sc = p.sc),
         |econ AS (SELECT sc, gs AS cs, ge AS ce FROM egr
         |         UNION ALL SELECT sc, rs, re FROM eas
         |         WHERE rs IS NOT NULL),
         |etb0 AS (SELECT sc, si, ss, (se-ss)//1024 AS nb,
         |           UNNEST(range(0, (se-ss)//1024 + 1)) AS b FROM esp),
         |etb AS (SELECT t.sc, t.si, t.b,
         |          t.ss + t.b*1024 AS tbs,
         |          t.b < t.nb AND NOT EXISTS (
         |            SELECT 1 FROM econ c WHERE c.sc=t.sc
         |              AND c.cs < t.ss + t.b*1024 + 1024
         |              AND t.ss + t.b*1024 < c.ce) AS free
         |        FROM etb0 t),
         |ef1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sc, si
         |          ORDER BY b) AS rk FROM etb),
         |ef2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sc, si
         |          ORDER BY b) AS rk2 FROM ef1 WHERE free),
         |eruns AS (SELECT sc, si, rk - rk2 AS island,
         |            MIN(tbs) AS run_start, COUNT(*) AS len
         |          FROM ef2 GROUP BY 1, 2, 3),
         |ebest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sc
         |            ORDER BY len DESC, si, run_start) AS rn FROM eruns),
         |etr AS (SELECT b.sc,
         |          run_start + ((len + 1) // 2) * 1024 AS t_start,
         |          run_start + len * 1024 AS t_end
         |        FROM ebest b WHERE rn = 1 AND len >= 2),
         |etrc AS (SELECT t.* FROM etr t WHERE EXISTS (
         |          SELECT 1 FROM esp s WHERE s.sc=t.sc
         |            AND s.ss <= t.t_start AND t.t_end <= s.se)),
         |ev AS (SELECT p.*, a.rs, a.re, a.reused, a.has_spans, a.has_free,
         |  NOT p.doc_exists AND p.create_ok AS fresh,
         |  p.red_ex AND p.sc%29 <> 7 AND p.sc%6 = 0 AS node_noop,
         |  COALESCE(p.doc_exists AND p.sc%13 IN (1,5) AND a.rs = 2051,
         |    false) AS blocked,
         |  a.reused AND a.rid = 'g1' AND p.red_ex AND p.sc%16 < 8
         |    AS range_noop,
         |  p.kind = 'management' AND p.target <> 'A'
         |    AND p.sc NOT IN (SELECT sc FROM ets) AS tgate,
         |  tr.t_start, tr.t_end,
         |  CASE
         |    WHEN NOT p.doc_exists AND NOT p.create_ok
         |      THEN 'realm_config_not_found'
         |    WHEN p.doc_exists AND p.rkm AND p.sc%7 = 2
         |      THEN 'node_kind_mismatch'
         |    WHEN p.red_ex AND p.red_mis THEN 'target_mismatch'
         |    WHEN NOT a.reused AND NOT a.has_spans
         |      THEN 'coordinator_pool_missing'
         |    WHEN NOT a.reused AND NOT a.has_free
         |      THEN 'handle_space_exhausted'
         |    WHEN NOT COALESCE(p.doc_exists AND p.sc%13 IN (1,5)
         |        AND a.rs = 2051, false)
         |      AND p.doc_exists AND NOT p.has_strategy
         |      THEN 'default_strategy_missing'
         |  END AS err
         | FROM ep p LEFT JOIN eas a ON a.sc = p.sc
         | LEFT JOIN etrc tr ON tr.sc = p.sc)
         |SELECT sc AS sc_id,
         |  CASE WHEN err IS NOT NULL THEN 'error'
         |       WHEN node_noop AND range_noop AND blocked AND NOT fresh
         |            AND NOT (tgate AND t_start IS NOT NULL)
         |         THEN 'ok_noop'
         |       ELSE 'ok_write' END AS verdict,
         |  err AS error,
         |  CASE WHEN err IS NULL THEN fresh END AS fresh,
         |  CASE WHEN err IS NULL THEN NOT node_noop END AS ev_node,
         |  CASE WHEN err IS NULL THEN fresh END AS ev_seed,
         |  CASE WHEN err IS NULL THEN NOT range_noop END AS ev_range,
         |  CASE WHEN err IS NULL THEN NOT blocked END AS ev_binding,
         |  CASE WHEN err IS NULL THEN tgate AND t_start IS NOT NULL END
         |    AS ev_transfer,
         |  CASE WHEN err IS NULL THEN rs END AS range_start,
         |  CASE WHEN err IS NULL THEN re END AS range_end,
         |  CASE WHEN err IS NULL THEN reused END AS range_reused,
         |  CASE WHEN err IS NULL AND NOT blocked THEN rs END
         |    AS binding_handle,
         |  CASE WHEN err IS NULL AND tgate THEN t_start END
         |    AS transfer_start,
         |  CASE WHEN err IS NULL AND tgate THEN t_end END AS transfer_end
         |FROM ev
         |ORDER BY sc_id""".stripMargin,

    "bp1_pool_validity" ->
      s"""WITH RECURSIVE $bandPoolsCte
         |SELECT w.sc_id, w.pool_id, w.parent, w.issuer, w.owner, w.start,
         |  w."end", (v.pool_id IS NOT NULL) AS valid
         |FROM bwf w
         |LEFT JOIN bvalid v ON v.sc_id=w.sc_id AND v.pool_id=w.pool_id
         |ORDER BY w.sc_id, w.pool_id""".stripMargin,

    "bp2_coordinator_spans" ->
      s"""WITH RECURSIVE $bandPoolsCte,
         |vp AS (SELECT DISTINCT b.sc_id, b.pool_id, b.parent, b.owner,
         |         b.start, b."end"
         |       FROM bp b JOIN bvalid v ON v.sc_id=b.sc_id
         |         AND v.pool_id=b.pool_id),
         |banc(sc_id, pool_id, anc_id) AS (
         |  SELECT sc_id, pool_id, parent FROM vp WHERE parent IS NOT NULL
         |  UNION
         |  SELECT a.sc_id, a.pool_id, p.parent
         |  FROM banc a JOIN vp p ON p.sc_id=a.sc_id AND p.pool_id=a.anc_id
         |  WHERE p.parent IS NOT NULL),
         |bscs AS (SELECT DISTINCT sc_id FROM bp),
         |bbands AS (SELECT sc_id, UNNEST(range(0, 1023)) AS b FROM bscs),
         |bcov AS (SELECT bd.sc_id, bd.b, p.pool_id, p.owner
         |         FROM bbands bd JOIN vp p ON p.sc_id = bd.sc_id
         |           AND p.start <= bd.b*1024+3
         |           AND bd.b*1024+1027 <= p."end"),
         |bcand AS (SELECT c.* FROM bcov c WHERE NOT EXISTS (
         |    SELECT 1 FROM bcov o
         |    WHERE o.sc_id=c.sc_id AND o.b=c.b AND o.pool_id<>c.pool_id
         |      AND NOT EXISTS (SELECT 1 FROM banc a
         |        WHERE a.sc_id=c.sc_id AND a.pool_id=c.pool_id
         |          AND a.anc_id=o.pool_id))),
         |bwin AS (SELECT sc_id, b, MIN(owner) AS owner FROM bcand
         |         GROUP BY 1, 2 HAVING COUNT(*)=1),
         |bisl AS (SELECT sc_id, owner, b,
         |           b - ROW_NUMBER() OVER (PARTITION BY sc_id, owner
         |             ORDER BY b) AS g
         |         FROM bwin)
         |SELECT sc_id, owner, MIN(b)*1024+3 AS span_start,
         |  (MAX(b)+1)*1024+3 AS span_end
         |FROM bisl GROUP BY sc_id, owner, g
         |ORDER BY sc_id, owner, span_start""".stripMargin,

    "bp3_pool_admission" ->
      s"""WITH RECURSIVE $bandPoolsCte,
         |bprobe(inc_idx, parent, issuer, owner, sb, eb, origin) AS (VALUES
         |  (0, 'p1', 'b','z', 210, 240, 'b'),
         |  (1, 'p77','a','z', 500, 510, 'a'),
         |  (2, 'p0', 'x','z', 420, 440, 'x'),
         |  (3, NULL, 'z2','z2', 980, 990, 'z2'),
         |  (4, NULL, 'z3','z4', 960, 970, 'z3'),
         |  (5, NULL, 'z5','z5', 0, 1, 'z5'),
         |  (6, NULL, 'z2','z2', 985, 995, 'q'),
         |  (7, 'p1', 'b','z6', 250, 350, 'b'),
         |  (8, 'p4', 'x','z7', 410, 440, 'x')),
         |bscs AS (SELECT DISTINCT sc_id FROM bp),
         |binc AS (SELECT s.sc_id, p.inc_idx, p.parent, p.issuer, p.owner,
         |           CASE WHEN p.inc_idx=5 THEN 1 ELSE p.sb*1024+3 END
         |             AS start,
         |           p.eb*1024+3 AS "end", p.origin
         |         FROM bscs s CROSS JOIN bprobe p),
         |bpcnt AS (SELECT sc_id, pool_id, COUNT(*) AS n FROM bp
         |          GROUP BY 1, 2),
         |bpp AS (SELECT DISTINCT sc_id, pool_id, owner, start, "end"
         |        FROM bp)
         |SELECT i.sc_id, i.inc_idx,
         |  CASE
         |    WHEN NOT (i.start >= 3 AND i.start < i."end"
         |        AND i."end" <= 1048576)
         |      OR i.issuer <> i.origin THEN 'reject'
         |    WHEN i.parent IS NULL THEN
         |      CASE WHEN i.issuer = i.owner THEN 'accept'
         |           ELSE 'reject' END
         |    WHEN pc.n IS NULL OR pc.n <> 1 THEN 'missing_parent'
         |    WHEN pv.pool_id IS NOT NULL AND pp.owner = i.issuer
         |      AND pp.start <= i.start AND i."end" <= pp."end"
         |      THEN 'accept'
         |    ELSE 'reject'
         |  END AS verdict
         |FROM binc i
         |LEFT JOIN bpcnt pc ON pc.sc_id=i.sc_id AND pc.pool_id=i.parent
         |LEFT JOIN bpp pp ON pp.sc_id=i.sc_id AND pp.pool_id=i.parent
         |  AND pc.n = 1
         |LEFT JOIN bvalid pv ON pv.sc_id=i.sc_id AND pv.pool_id=i.parent
         |ORDER BY i.sc_id, i.inc_idx""".stripMargin,

    "hd1_handle_directory" ->
      s"""WITH $handleRangesCte
         |SELECT sc_id, range_id, owner, start, "end", n_values, conflicted,
         |  CASE WHEN NOT conflicted THEN CAST(ROW_NUMBER() OVER (
         |    PARTITION BY sc_id, owner
         |    ORDER BY conflicted, start, range_id) AS BIGINT)
         |  END AS grant_rank
         |FROM hm
         |ORDER BY sc_id, range_id, owner, start, "end"""".stripMargin,

    "hd2_free_band" ->
      s"""WITH $handleRangesCte,
         |hs AS (SELECT DISTINCT sc_id FROM hr),
         |hsp AS (
         |  SELECT sc_id, 0 AS span_idx, 11267 AS span_start,
         |         12291 AS span_end FROM hs
         |  UNION ALL
         |  SELECT sc_id, 1, 2051, 3075 FROM hs),
         |hb0 AS (
         |  SELECT sc_id, span_idx, span_start,
         |    UNNEST(range(0, (span_end - span_start)//1024)) AS b
         |  FROM hsp),
         |hb AS (SELECT sc_id, span_idx, b, span_start + b*1024 AS fs
         |       FROM hb0),
         |hfree AS (
         |  SELECT h.* FROM hb h
         |  WHERE NOT EXISTS (SELECT 1 FROM hr r
         |    WHERE r.sc_id = h.sc_id AND r.start < h.fs + 1024
         |      AND h.fs < r."end")),
         |hfirst AS (
         |  SELECT sc_id, fs AS free_start, fs + 1024 AS free_end FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY sc_id
         |      ORDER BY span_idx, b) AS rn
         |    FROM hfree) t
         |  WHERE rn = 1)
         |SELECT hs.sc_id, f.free_start, f.free_end
         |FROM hs LEFT JOIN hfirst f USING (sc_id)
         |ORDER BY hs.sc_id""".stripMargin,

    "hd3_cursor_draws" ->
      s"""WITH hro AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS o FROM orders
         |  WHERE o_orderkey % 11 = 5),
         |hr AS (
         |  SELECT DISTINCT o % 199 AS sc_id,
         |    'r'||((o//199) % 17) AS range_id,
         |    'n'||(o % 3) AS owner,
         |    (o//3) % 24 * 4 + 3 AS start,
         |    (o//3) % 24 * 4 + 5 + o % 5 AS "end"
         |  FROM hro),
         |hdv AS (SELECT sc_id, range_id, COUNT(*) AS n_values
         |        FROM hr GROUP BY 1, 2),
         |hov AS (SELECT DISTINCT a.sc_id, a.range_id
         |        FROM hr a JOIN hr b ON a.sc_id = b.sc_id
         |          AND a.range_id <> b.range_id
         |          AND a.start < b."end" AND b.start < a."end"),
         |hg AS (
         |  SELECT hr.* FROM hr
         |  JOIN hdv ON hdv.sc_id = hr.sc_id AND hdv.range_id = hr.range_id
         |  LEFT JOIN hov ON hov.sc_id = hr.sc_id
         |    AND hov.range_id = hr.range_id
         |  WHERE hdv.n_values = 1 AND hov.range_id IS NULL
         |    AND hr."end" > hr.start + 1),
         |hdr AS (
         |  SELECT sc_id, owner, range_id, start,
         |    UNNEST(range(start + 1, "end")) AS handle
         |  FROM hg)
         |SELECT sc_id, owner,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY sc_id, owner
         |    ORDER BY start, range_id, handle) AS BIGINT) AS seq,
         |  handle, range_id
         |FROM hdr
         |ORDER BY sc_id, owner, seq""".stripMargin,

    "hb1_hidden_sweep" -> {
      val now = 1700000000000L
      val old = now - 7200000L
      s"""WITH jobs AS (
         |  SELECT 'j'||o_orderkey AS job_id,
         |    CASE o_orderkey%17 WHEN 0 THEN 'Claimed' WHEN 1 THEN 'Running'
         |      WHEN 2 THEN 'Failed' WHEN 3 THEN 'Cancelled'
         |      WHEN 4 THEN 'Succeeded' ELSE 'Queued' END AS state,
         |    o_orderkey%4 = 0 AS is_rocrate,
         |    CASE WHEN o_orderkey%9 = 0 THEN 'ha-'||o_orderkey END
         |      AS artifact_key,
         |    o_orderkey AS o
         |  FROM orders WHERE o_orderkey%3 = 0),
         |active AS (
         |  SELECT job_id FROM jobs
         |  WHERE state NOT IN ('Failed','Cancelled','Succeeded')),
         |active_rc AS (
         |  SELECT job_id FROM jobs
         |  WHERE state NOT IN ('Failed','Cancelled','Succeeded')
         |    AND is_rocrate),
         |ck AS (
         |  SELECT 'j'||o_orderkey AS job_id,
         |    'hc-'||o_orderkey||'-'||i AS hidden_key
         |  FROM orders, (VALUES ('0'),('1')) t(i)
         |  WHERE o_orderkey%3 = 0 AND o_orderkey%12 = 0),
         |ups AS (
         |  SELECT 'up-'||o_orderkey AS upload_id,
         |    'hu-'||o_orderkey AS hidden_key,
         |    CASE WHEN o_orderkey%15 = 0 THEN 'j'||o_orderkey
         |         WHEN o_orderkey%15 = 5 THEN 'j'||(o_orderkey+9000000)
         |    END AS claimed_by,
         |    CASE WHEN o_orderkey%10 < 5 THEN $now + 60000
         |         ELSE $now - 60000 END AS expires_at_ms
         |  FROM orders WHERE o_orderkey%5 = 0),
         |upsv AS (
         |  SELECT u.*,
         |    CASE WHEN u.claimed_by IS NOT NULL
         |      THEN a.job_id IS NOT NULL
         |      ELSE u.expires_at_ms > $now END AS live
         |  FROM ups u LEFT JOIN active a ON a.job_id = u.claimed_by),
         |referenced AS (
         |  SELECT DISTINCT hidden_key FROM (
         |    SELECT artifact_key AS hidden_key FROM jobs
         |    WHERE artifact_key IS NOT NULL
         |    UNION ALL
         |    SELECT c.hidden_key FROM ck c
         |    JOIN active_rc a ON a.job_id = c.job_id
         |    UNION ALL
         |    SELECT hidden_key FROM upsv WHERE live)),
         |hid AS (
         |  SELECT 'ha-'||o_orderkey AS hidden_key,
         |    CAST(NULL AS VARCHAR) AS namespace_job_id,
         |    $old AS modified_at_ms
         |  FROM orders WHERE o_orderkey%9 = 0
         |  UNION ALL
         |  SELECT 'hc-'||o_orderkey||'-0', 'j'||o_orderkey, $old
         |  FROM orders WHERE o_orderkey%3 = 0 AND o_orderkey%12 = 0
         |  UNION ALL
         |  SELECT 'hu-'||o_orderkey, NULL, $old
         |  FROM orders WHERE o_orderkey%5 = 0
         |  UNION ALL
         |  SELECT 'ho-'||o_orderkey, NULL,
         |    CASE WHEN o_orderkey%21 = 0 THEN NULL
         |         WHEN o_orderkey%14 = 0 THEN $now - 1000
         |         ELSE $old END
         |  FROM orders WHERE o_orderkey%7 = 0
         |  UNION ALL
         |  SELECT 'hn-'||o_orderkey, 'j'||o_orderkey, $old
         |  FROM orders WHERE o_orderkey%3 = 0 AND o_orderkey%12 = 0)
         |SELECT * FROM (
         |  SELECT 'upload' AS phase, upload_id AS id, hidden_key,
         |    CASE WHEN live AND claimed_by IS NOT NULL THEN 'live_claimed'
         |         WHEN live THEN 'live_unclaimed'
         |         ELSE 'deleted' END AS verdict
         |  FROM upsv
         |  UNION ALL
         |  SELECT 'entry', h.hidden_key, h.hidden_key,
         |    CASE WHEN r.hidden_key IS NOT NULL THEN 'kept_referenced'
         |      WHEN a.job_id IS NOT NULL THEN 'kept_active_namespace'
         |      WHEN h.modified_at_ms IS NULL THEN 'kept_no_mtime'
         |      WHEN h.modified_at_ms > $now - 3600000 THEN 'kept_grace'
         |      ELSE 'orphan_deleted' END
         |  FROM hid h
         |  LEFT JOIN referenced r ON r.hidden_key = h.hidden_key
         |  LEFT JOIN active_rc a ON a.job_id = h.namespace_job_id)
         |ORDER BY phase, id, verdict""".stripMargin
    },

    "nr1_event_routing" -> {
      val base =
        """ev AS (
          |  SELECT o_orderkey AS event_id,
          |    CASE o_orderkey%3 WHEN 0 THEN 'member_added'
          |      WHEN 1 THEN 'member_removed'
          |      ELSE 'node_onboarded' END AS kind,
          |    'g'||(o_orderkey%8) AS group_id,
          |    'r'||(o_orderkey%2) AS realm_id,
          |    'u'||(o_orderkey%9) AS affected_user,
          |    CASE WHEN o_orderkey%13 = 0 THEN 'u'||(o_orderkey%9)
          |         ELSE 'u'||((o_orderkey%9 + 3)%9) END AS actor_user_id,
          |    1700000000000 + o_orderkey AS occurred_at_ms
          |  FROM orders WHERE o_orderkey%67 = 5),
          |ga AS (
          |  SELECT DISTINCT 'g'||g AS group_id, 'u'||u AS user_id
          |  FROM range(0,8) t(g), range(0,10) s(u) WHERE (g+u)%4 = 0),
          |ra AS (
          |  SELECT DISTINCT 'r'||r AS realm_id, 'u'||u AS user_id
          |  FROM range(0,2) t(r), range(0,10) s(u) WHERE u%3 = 0)"""
          .stripMargin
      s"""WITH $base
         |SELECT * FROM (
         |  SELECT event_id, affected_user AS recipient,
         |    CASE WHEN kind = 'member_added' THEN 'added_to_group'
         |         ELSE 'removed_from_group' END AS notif_kind,
         |    'Direct' AS class, occurred_at_ms
         |  FROM ev
         |  WHERE kind IN ('member_added','member_removed')
         |    AND affected_user <> actor_user_id
         |  UNION ALL
         |  SELECT e.event_id, a.user_id, 'group_member_added', 'Direct',
         |    e.occurred_at_ms
         |  FROM ev e JOIN ga a ON a.group_id = e.group_id
         |  WHERE e.kind = 'member_added'
         |    AND a.user_id <> e.affected_user
         |    AND a.user_id <> e.actor_user_id
         |  UNION ALL
         |  SELECT e.event_id, a.user_id, 'node_onboarded', 'Direct',
         |    e.occurred_at_ms
         |  FROM ev e JOIN ra a ON a.realm_id = e.realm_id
         |  WHERE e.kind = 'node_onboarded')
         |ORDER BY event_id, notif_kind, recipient""".stripMargin
    },

    "cv1_connector_validation" -> {
      val canonical =
        """(regexp_matches(endpoint,
          |   '^https?://[A-Za-z0-9.-]+(:[0-9]+)?(/[A-Za-z0-9/._-]*)?$$')
          | AND NOT regexp_matches(host, '^[0-9]+$$')
          | AND NOT regexp_matches(lower(host), '^0x[0-9a-f]+$$')
          | AND NOT regexp_matches(host, '\\.$$')
          | AND NOT regexp_matches(host, '[A-Z]')
          | AND NOT (regexp_matches(host, '^[0-9.]+$$') AND NOT
          |   regexp_matches(host,
          |     '^(0|[1-9][0-9]{0,2})(\\.(0|[1-9][0-9]{0,2})){3}$$')))"""
          .stripMargin
      s"""WITH base AS (
         |  SELECT o_orderkey AS o, o_orderkey%13 AS f,
         |    CASE o_orderkey%5 WHEN 0 THEN 'Http' WHEN 1 THEN 'S3'
         |      WHEN 2 THEN 'Webdav' WHEN 3 THEN 'Ftp'
         |      ELSE 'ArunaNative' END AS kind,
         |    CASE o_orderkey%6
         |      WHEN 0 THEN 'https://2852039166'
         |      WHEN 1 THEN 'https://0xa9fea9fe'
         |      WHEN 2 THEN 'https://169.254.169.254.'
         |      WHEN 3 THEN 'https://127.1'
         |      WHEN 4 THEN 'https://0251.0376.0251.0376'
         |      ELSE 'https://S3.example.com' END AS respelled
         |  FROM orders WHERE o_orderkey%89 = 2),
         |vals AS (
         |  SELECT *,
         |    CASE WHEN f = 6 THEN respelled
         |      WHEN kind = 'S3' THEN 'https://s3.example.com'
         |      ELSE 'https://files'||(o%7)||'.example.com' END AS ept,
         |    CASE WHEN f = 7 THEN 'b@d'||(o%10) ELSE 'b'||(o%50) END
         |      AS bkt
         |  FROM base),
         |cfg AS (
         |  SELECT o, f, kind,
         |    CASE WHEN f = 0 THEN '  ' ELSE 'conn-'||o END AS name,
         |    list_concat(list_concat(
         |      CASE WHEN kind = 'S3' THEN
         |        list_filter([struct_pack(k := 'bucket', v := bkt),
         |          struct_pack(k := 'endpoint', v := ept),
         |          struct_pack(k := 'region', v := CASE WHEN f = 4 THEN ''
         |            ELSE 'eu-central-1' END)],
         |          x -> NOT (f = 3 AND x.k = 'bucket'))
         |      ELSE
         |        list_filter([struct_pack(k := 'endpoint', v := ept),
         |          struct_pack(k := 'root', v := CASE WHEN f = 4 THEN ' '
         |            ELSE '/data' END)],
         |          x -> NOT (f = 3 AND x.k = 'endpoint')) END,
         |      CASE WHEN f = 1
         |        THEN [struct_pack(k := 'zeta_extra', v := 'x')]
         |        ELSE [] END),
         |      CASE WHEN kind = 'S3' AND f = 8
         |        THEN [struct_pack(k := 'skip_signature', v := 'banana')]
         |        WHEN kind = 'S3' AND f IN (9, 11)
         |        THEN [struct_pack(k := 'skip_signature', v := 'true')]
         |        ELSE [] END) AS pub,
         |    CASE WHEN f IN (10, 11) THEN
         |        list_filter([struct_pack(k := 'x', v := 'x')], x -> FALSE)
         |      ELSE list_concat(
         |        CASE WHEN kind = 'S3' THEN
         |          [struct_pack(k := 'access_key_id', v := 'AK'||o),
         |           struct_pack(k := 'secret_access_key',
         |             v := CASE WHEN f = 5 THEN '' ELSE 'SK' END)]
         |        WHEN kind = 'Ftp' THEN
         |          [struct_pack(k := 'user', v := 'u'),
         |           struct_pack(k := 'password', v := 'p')]
         |        WHEN kind = 'ArunaNative' THEN
         |          [struct_pack(k := 'bearer_token', v := 't')]
         |        ELSE
         |          [struct_pack(k := 'username', v := 'u'),
         |           struct_pack(k := 'password',
         |             v := CASE WHEN f = 5 THEN ' ' ELSE 'p' END)] END,
         |        CASE WHEN f = 2
         |          THEN [struct_pack(k := 'zzz_bad', v := 'y')]
         |          ELSE [] END) END AS sec
         |  FROM vals),
         |derived AS (
         |  SELECT *,
         |    list_transform(pub, x -> x.k) AS pkeys,
         |    list_transform(sec, x -> x.k) AS skeys,
         |    list_aggregate(list_transform(list_filter(pub,
         |      x -> trim(x.v) = ''), x -> x.k), 'min') AS empty_pub,
         |    list_aggregate(list_transform(list_filter(sec,
         |      x -> trim(x.v) = ''), x -> x.k), 'min') AS empty_sec,
         |    CASE WHEN kind = 'S3' THEN ['bucket','endpoint']
         |         ELSE ['endpoint'] END AS req_keys,
         |    CASE WHEN kind = 'S3'
         |        THEN ['bucket','endpoint','region','root','skip_signature']
         |      WHEN kind = 'ArunaNative'
         |        THEN ['endpoint','realm_id','default_node_id']
         |      ELSE ['endpoint','root'] END AS allowed_pub,
         |    CASE WHEN kind = 'S3'
         |        THEN ['access_key_id','secret_access_key']
         |      WHEN kind = 'Ftp' THEN ['user','password']
         |      WHEN kind = 'ArunaNative'
         |        THEN ['bearer_token','access_key','secret_key']
         |      ELSE ['username','password','token'] END AS allowed_sec,
         |    (list_filter(pub, x -> x.k = 'endpoint'))[1].v AS endpoint,
         |    (list_filter(pub, x -> x.k = 'bucket'))[1].v AS bucket,
         |    (list_filter(pub, x -> x.k = 'skip_signature'))[1].v AS skip
         |  FROM cfg),
         |d2 AS (
         |  SELECT *,
         |    list_aggregate(list_filter(pkeys,
         |      k -> NOT list_contains(allowed_pub, k)), 'min')
         |      AS unknown_pub,
         |    list_aggregate(list_filter(skeys,
         |      k -> NOT list_contains(allowed_sec, k)), 'min')
         |      AS unknown_sec,
         |    (list_filter(req_keys,
         |      k -> NOT list_contains(pkeys, k)))[1] AS missing_req,
         |    regexp_extract(coalesce(endpoint, ''),
         |      '^https?://([^/:]+)', 1) AS host,
         |    COALESCE(skip = 'true', FALSE) AS anon,
         |    list_contains(skeys, 'access_key_id')
         |      AND list_contains(skeys, 'secret_access_key') AS has_creds
         |  FROM derived),
         |v AS (
         |  SELECT o AS req_id, name, kind,
         |    CASE
         |      WHEN trim(name) = '' THEN ['empty_name', NULL]
         |      WHEN kind IN ('Ftp','ArunaNative')
         |        THEN ['unsupported_kind', kind]
         |      WHEN empty_pub IS NOT NULL
         |        THEN ['empty_public_value', empty_pub]
         |      WHEN empty_sec IS NOT NULL
         |        THEN ['empty_secret_value', empty_sec]
         |      WHEN unknown_pub IS NOT NULL
         |        THEN ['unknown_public_key', unknown_pub]
         |      WHEN unknown_sec IS NOT NULL
         |        THEN ['unknown_secret_key', unknown_sec]
         |      WHEN missing_req IS NOT NULL
         |        THEN ['missing_required_public_key', missing_req]
         |      WHEN endpoint IS NOT NULL AND NOT $canonical
         |        THEN ['ambiguous_endpoint', endpoint]
         |      WHEN bucket IS NOT NULL
         |          AND regexp_matches(bucket, '[/\\\\?#@]')
         |        THEN ['unsafe_bucket', bucket]
         |      WHEN skip IS NOT NULL AND skip NOT IN ('true','false')
         |        THEN ['invalid_bool_value', 'skip_signature']
         |      WHEN anon AND len(sec) > 0
         |        THEN ['credentials_with_skip_signature', NULL]
         |      WHEN kind = 'S3' AND NOT anon AND NOT has_creds
         |        THEN ['missing_credentials', NULL]
         |      ELSE ['ok', NULL] END AS vd
         |  FROM d2)
         |SELECT req_id, name, kind, vd[1] AS verdict, vd[2] AS detail,
         |  vd[1] = 'ok' AS valid
         |FROM v ORDER BY req_id""".stripMargin
    },

    "jd1_job_drain" -> {
      val now = 1700000000000L
      s"""WITH recs AS (
         |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS job_id,
         |    CASE o_orderkey%17 WHEN 0 THEN 'Claimed' WHEN 1 THEN 'Running'
         |      WHEN 2 THEN 'Failed' WHEN 3 THEN 'Cancelled'
         |      WHEN 4 THEN 'Succeeded' ELSE 'Queued' END AS state,
         |    CASE WHEN o_orderkey%23 = 0 THEN 'other' ELSE 'self' END
         |      AS owner,
         |    CASE WHEN o_orderkey%5 < 2 THEN 'ExternalAttempt'
         |         ELSE 'InProcess' END AS exec_class,
         |    o_orderkey%19 = 0 AS cancel_requested,
         |    o_orderkey%38 = 0 AS has_run,
         |    CASE WHEN o_orderkey%5 < 2 AND o_orderkey%7 = 0
         |         THEN 'submitted' END AS attempt_intent,
         |    CAST(o_orderkey%6 AS BIGINT) AS attempts,
         |    CASE WHEN o_orderkey%17 IN (0, 1) THEN
         |      CASE WHEN o_orderkey%4 < 3
         |           THEN $now - 1000 - o_orderkey%100
         |           ELSE $now + 50000 END END AS lease_expires_at_ms,
         |    CASE WHEN o_orderkey%29 = 0 THEN 'TerminalCleanup'
         |         ELSE 'Execution' END AS payload
         |  FROM orders WHERE o_orderkey%3 = 1),
         |due AS (
         |  SELECT CASE WHEN o_orderkey%11 = 0 THEN $now + 100000
         |         ELSE $now - 5000 + (o_orderkey%100)*10 END AS due_ts,
         |    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS job_id
         |  FROM orders WHERE o_orderkey%3 = 1 AND o_orderkey%8 = 5
         |  UNION ALL
         |  SELECT $now - 4990,
         |    lpad(CAST(o_orderkey + 9000000 AS VARCHAR), 12, '0')
         |  FROM orders WHERE o_orderkey%3 = 1 AND o_orderkey%527 = 31),
         |leases AS (
         |  SELECT $now - 1000 - o_orderkey%100 AS lease_ts,
         |    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS job_id
         |  FROM orders WHERE o_orderkey%3 = 1 AND o_orderkey%17 <= 2
         |    AND o_orderkey%4 < 3
         |  UNION ALL
         |  SELECT $now - 1150, lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
         |  FROM orders WHERE o_orderkey%3 = 1 AND o_orderkey%176 = 3
         |    AND o_orderkey%17 <= 1
         |  UNION ALL
         |  SELECT $now - 1180, lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
         |  FROM orders WHERE o_orderkey%3 = 1 AND o_orderkey%510 = 22
         |  UNION ALL
         |  SELECT $now - 1200,
         |    lpad(CAST(o_orderkey + 9500000 AS VARCHAR), 12, '0')
         |  FROM orders WHERE o_orderkey%3 = 1 AND o_orderkey%701 = 3),
         |walked AS (
         |  SELECT d.due_ts, d.job_id, r.state, r.owner, r.exec_class,
         |    r.cancel_requested, r.has_run, r.attempt_intent,
         |    row_number() OVER w AS pos,
         |    SUM(CASE WHEN r.state = 'Queued' AND r.owner = 'self'
         |          AND NOT (r.cancel_requested AND NOT r.has_run
         |            AND r.attempt_intent IS NULL)
         |          AND r.exec_class = 'InProcess' THEN 1 ELSE 0 END)
         |      OVER (w ROWS UNBOUNDED PRECEDING) AS ip_rn,
         |    SUM(CASE WHEN r.state = 'Queued' AND r.owner = 'self'
         |          AND NOT (r.cancel_requested AND NOT r.has_run
         |            AND r.attempt_intent IS NULL)
         |          AND r.exec_class = 'ExternalAttempt' THEN 1 ELSE 0 END)
         |      OVER (w ROWS UNBOUNDED PRECEDING) AS ext_rn
         |  FROM due d LEFT JOIN recs r ON r.job_id = d.job_id
         |  WHERE d.due_ts <= $now
         |  WINDOW w AS (ORDER BY d.due_ts, d.job_id)),
         |cv AS (
         |  SELECT *,
         |    CASE WHEN state IS NULL THEN 'orphan_dropped'
         |      WHEN owner <> 'self' THEN 'foreign_dropped'
         |      WHEN state <> 'Queued' THEN 'not_eligible'
         |      WHEN cancel_requested AND NOT has_run
         |        AND attempt_intent IS NULL THEN 'cancelled_fresh'
         |      WHEN exec_class = 'InProcess' THEN
         |        CASE WHEN ip_rn <= 6 THEN 'claimed'
         |             ELSE 'skipped_saturated' END
         |      ELSE CASE WHEN ext_rn <= 3 THEN 'claimed'
         |           ELSE 'skipped_saturated' END END AS verdict
         |  FROM walked),
         |cut AS (
         |  SELECT MIN(CASE WHEN verdict = 'claimed'
         |    AND least(ip_rn, 6) = 6 AND least(ext_rn, 3) = 3
         |    THEN pos END) AS cut_pos FROM cv),
         |claims AS (
         |  SELECT 'claim' AS phase, pos, job_id, verdict,
         |    CAST(NULL AS BIGINT) AS attempts_after,
         |    CASE WHEN verdict = 'claimed' THEN $now + 60000 END
         |      AS due_after_ms
         |  FROM cv, cut WHERE cut_pos IS NULL OR pos <= cut_pos),
         |lj AS (
         |  SELECT l.lease_ts, l.job_id, r.state, r.exec_class,
         |    r.attempt_intent, r.attempts, r.lease_expires_at_ms,
         |    r.payload,
         |    row_number() OVER (ORDER BY l.lease_ts, l.job_id) AS pos
         |  FROM leases l LEFT JOIN recs r ON r.job_id = l.job_id
         |  WHERE l.lease_ts <= $now),
         |lv AS (
         |  SELECT *,
         |    CASE WHEN state IS NULL THEN 'orphan_healed'
         |      WHEN state IN ('Failed','Cancelled','Succeeded')
         |        THEN 'skipped'
         |      WHEN lease_expires_at_ms IS NULL THEN 'skipped'
         |      WHEN lease_expires_at_ms > $now THEN 'skipped'
         |      WHEN exec_class = 'ExternalAttempt'
         |        AND attempt_intent IS NOT NULL THEN 'reconciled'
         |      WHEN attempts + 1 >= 5 AND payload <> 'TerminalCleanup'
         |        THEN 'failed_capped'
         |      ELSE 'requeued' END AS verdict
         |  FROM lj),
         |p1 AS (
         |  SELECT COUNT(*) = 128 AND
         |    SUM(CASE WHEN verdict = 'reconciled' THEN 1 ELSE 0 END)
         |      = COUNT(*) AS page2
         |  FROM lv WHERE pos <= 128),
         |sweeps AS (
         |  SELECT 'lease' AS phase, pos, job_id, verdict,
         |    CASE WHEN verdict IN ('requeued','failed_capped')
         |      THEN attempts + 1 END AS attempts_after,
         |    CASE WHEN verdict = 'requeued' THEN $now +
         |      least(250 * (1 << least(CAST(attempts AS INT) + 1, 7)),
         |        30000) END AS due_after_ms
         |  FROM lv, p1 WHERE pos <= 128 OR (page2 AND pos <= 256)),
         |trailer AS (
         |  SELECT
         |    COALESCE((SELECT MAX(CASE WHEN verdict = 'skipped_saturated'
         |       THEN TRUE ELSE FALSE END) FROM claims), FALSE)
         |      AS deferred_saturated,
         |    least(
         |      greatest((SELECT MIN(due_ts) FROM due) - $now, 0),
         |      CASE WHEN greatest(
         |          (SELECT MIN(lease_ts) FROM leases) - $now, 0) = 0
         |        THEN 20000
         |        ELSE greatest(
         |          (SELECT MIN(lease_ts) FROM leases) - $now, 0) END)
         |      AS next_due_after_ms)
         |SELECT u.phase, CAST(u.pos AS INT) AS pos, u.job_id, u.verdict,
         |  CAST(u.attempts_after AS BIGINT) AS attempts_after,
         |  CAST(u.due_after_ms AS BIGINT) AS due_after_ms,
         |  t.deferred_saturated,
         |  CAST(t.next_due_after_ms AS BIGINT) AS next_due_after_ms
         |FROM (SELECT * FROM claims UNION ALL SELECT * FROM sweeps) u,
         |  trailer t
         |ORDER BY u.phase, u.pos""".stripMargin
    },

    "nf4_mark_read" ->
      s"""WITH ${NotificationTables.inboxCte},
         |ids AS (
         |  SELECT recipient, notification_id FROM inbox
         |  WHERE (recipient = 'u0' AND CAST(notification_id AS BIGINT)%7 = 3)
         |     OR (recipient = 'u2' AND CAST(notification_id AS BIGINT)%97 = 3)),
         |times AS (
         |  SELECT 'u1' AS recipient, 1700002500000 AS up_to_ms
         |  UNION ALL SELECT 'c0', 1700000700000),
         |idn AS (SELECT recipient, COUNT(*) AS n_ids FROM ids GROUP BY 1),
         |req AS (SELECT recipient FROM idn
         |        UNION SELECT recipient FROM times),
         |j AS (
         |  SELECT i.recipient, i.read_at_ms,
         |    (d.notification_id IS NOT NULL
         |     OR (t.up_to_ms IS NOT NULL AND i.created_at_ms <= t.up_to_ms))
         |      AS hit
         |  FROM inbox i
         |  JOIN req r ON i.recipient = r.recipient
         |  LEFT JOIN ids d ON i.recipient = d.recipient
         |    AND i.notification_id = d.notification_id
         |  LEFT JOIN times t ON i.recipient = t.recipient),
         |agg AS (
         |  SELECT recipient,
         |    CAST(SUM(CASE WHEN read_at_ms IS NULL AND hit THEN 1 ELSE 0 END)
         |         AS BIGINT) AS would_mark,
         |    CAST(SUM(CASE WHEN read_at_ms IS NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS unread_before
         |  FROM j GROUP BY 1)
         |SELECT a.recipient,
         |  CASE WHEN COALESCE(n.n_ids, 0) > ${Notifications.MarkReadMaxIds}
         |       THEN 'too_many_ids' ELSE 'ok' END AS verdict,
         |  CAST(CASE WHEN COALESCE(n.n_ids, 0) > ${Notifications.MarkReadMaxIds}
         |       THEN 0 ELSE a.would_mark END AS BIGINT) AS marked,
         |  CAST(a.unread_before - CASE WHEN COALESCE(n.n_ids, 0) > ${Notifications.MarkReadMaxIds}
         |       THEN 0 ELSE a.would_mark END AS BIGINT) AS unread_after
         |FROM agg a LEFT JOIN idn n ON a.recipient = n.recipient
         |ORDER BY a.recipient""".stripMargin,

    "jp1_job_prune" -> {
      val now = 1700000000000L + 1200000L
      val mx = Long.MaxValue
      s"""WITH idx AS (
         |  SELECT 1700000000000 + (o_orderkey%2000)*1000 AS expiry_ms,
         |         lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS job_id,
         |         o_orderkey%211=0 AS malformed,
         |         o_orderkey%13<>0 AS exists_r,
         |         (o_orderkey%13<>0 AND o_orderkey%211<>0 AND o_orderkey%17=0)
         |           AS fenced,
         |         o_orderkey%5+1 AS n_entries,
         |         o_orderkey%2=0 AS rocrate,
         |         o_orderkey%6=0 AS has_dedup,
         |         o_orderkey%3 AS epochs
         |  FROM orders),
         |due AS (SELECT * FROM idx WHERE expiry_ms <= $now),
         |rows_ AS (
         |  SELECT *,
         |    CASE WHEN malformed THEN 'malformed'
         |         WHEN NOT exists_r THEN 'orphan'
         |         WHEN fenced THEN 'fenced' ELSE 'pruned' END AS kind,
         |    CAST(CASE WHEN malformed THEN 1 WHEN NOT exists_r THEN 2
         |         WHEN fenced THEN 0
         |         ELSE n_entries + 7 + CASE WHEN rocrate THEN 1 ELSE 0 END
         |              + CASE WHEN rocrate AND has_dedup THEN 1 ELSE 0 END
         |              + epochs END AS BIGINT) AS d_full,
         |    CASE WHEN malformed OR fenced THEN 0 ELSE 1 END AS p_inc
         |  FROM due),
         |st AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (ORDER BY expiry_ms, job_id) AS rank,
         |    CAST(COALESCE(SUM(d_full) OVER (ORDER BY expiry_ms, job_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_prev,
         |    CAST(SUM(p_inc) OVER (ORDER BY expiry_ms, job_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS p_after
         |  FROM rows_),
         |st2 AS (
         |  SELECT *, GREATEST(2048 - cum_prev, 1) AS remaining,
         |    cum_prev >= 2048 AS cap_stop,
         |    (kind = 'pruned' AND n_entries > GREATEST(2048 - cum_prev, 1))
         |      AS trunc_stop,
         |    p_after >= 2048 AS p_stop
         |  FROM st),
         |stops AS (
         |  SELECT MIN(CASE WHEN cap_stop THEN rank END) AS s_cap,
         |         MIN(CASE WHEN trunc_stop AND NOT cap_stop THEN rank END)
         |           AS s_tr,
         |         MIN(CASE WHEN p_stop AND NOT cap_stop AND NOT trunc_stop
         |                  THEN rank END) AS s_p
         |  FROM st2),
         |fut AS (SELECT MIN(expiry_ms) AS next_expiry FROM idx
         |        WHERE expiry_ms > $now),
         |tot AS (SELECT CAST(COALESCE(SUM(d_full), 0) AS BIGINT) AS d_total
         |        FROM st2),
         |sel AS (
         |  SELECT st2.*, s_cap, s_tr, s_p,
         |    LEAST(COALESCE(s_cap, $mx), COALESCE(s_tr, $mx),
         |          COALESCE(s_p, $mx)) AS stop_rank
         |  FROM st2, stops),
         |sel2 AS (
         |  SELECT *, CASE WHEN stop_rank = $mx THEN NULL
         |    WHEN s_cap = stop_rank THEN 'cap'
         |    WHEN s_tr = stop_rank THEN 'trunc' ELSE 'p' END AS stop_kind
         |  FROM sel),
         |proc AS (SELECT * FROM sel2
         |         WHERE rank < stop_rank
         |            OR (rank = stop_rank AND stop_kind IN ('trunc', 'p'))),
         |v AS (
         |  SELECT CASE WHEN rank = stop_rank AND stop_kind = 'trunc'
         |              THEN 'truncated' ELSE kind END AS verdict,
         |         CASE WHEN rank = stop_rank AND stop_kind = 'trunc'
         |              THEN remaining ELSE d_full END AS n_del
         |  FROM proc),
         |vg AS (SELECT verdict, COUNT(*) AS n,
         |              CAST(SUM(n_del) AS BIGINT) AS n_deletes
         |       FROM v GROUP BY 1),
         |tr AS (
         |  SELECT (s_cap IS NOT NULL OR s_tr IS NOT NULL OR s_p IS NOT NULL
         |          OR (next_expiry IS NOT NULL AND d_total >= 2048))
         |           AS has_more,
         |         next_expiry
         |  FROM stops, fut, tot)
         |SELECT verdict, n, n_deletes, has_more,
         |  CAST(CASE WHEN has_more THEN NULL ELSE next_expiry - $now END
         |       AS BIGINT) AS next_due_after_ms
         |FROM vg, tr ORDER BY verdict""".stripMargin
    },

    "us3_subject_merge" ->
      """WITH RECURSIVE c AS (
        |  SELECT c_custkey AS k,
        |         'u' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS uid,
        |         'r' || ((c_custkey//8)%3) AS realm
        |  FROM customer),
        |subj AS (
        |  SELECT uid AS user_id, realm, 'oidc:' || (k//2) AS subject FROM c
        |  UNION ALL
        |  SELECT uid, realm, 'sso:' || (k//3) FROM c),
        |al AS (
        |  SELECT uid AS user_id,
        |         'x' || lpad(CAST(k AS VARCHAR), 8, '0') AS alias_id
        |  FROM c WHERE k%5 = 0),
        |grp AS (SELECT realm, subject, MIN(user_id) AS a
        |        FROM subj GROUP BY 1, 2),
        |edges AS (
        |  SELECT DISTINCT g.a, s.user_id AS b
        |  FROM subj s JOIN grp g ON s.realm = g.realm AND s.subject = g.subject
        |  WHERE s.user_id <> g.a),
        |und AS (SELECT a AS x, b AS y FROM edges
        |        UNION ALL SELECT b, a FROM edges),
        |reach(node, m) AS (
        |  SELECT x, x FROM (SELECT DISTINCT x FROM und) n
        |  UNION
        |  SELECT u.x, r.m FROM und u JOIN reach r ON r.node = u.y),
        |labels AS (SELECT node AS user_id, MIN(m) AS canonical_id
        |           FROM reach GROUP BY 1),
        |allu AS (SELECT DISTINCT user_id, realm FROM subj),
        |lab AS (
        |  SELECT u.user_id, u.realm,
        |         COALESCE(l.canonical_id, u.user_id) AS canonical_id
        |  FROM allu u LEFT JOIN labels l USING (user_id)),
        |mem AS (
        |  SELECT realm, canonical_id, COUNT(*) AS n_members,
        |         string_agg(user_id, ',' ORDER BY user_id) AS members_csv
        |  FROM lab GROUP BY 1, 2),
        |sj AS (
        |  SELECT realm, canonical_id,
        |         string_agg(subject, ',' ORDER BY subject) AS subjects_csv
        |  FROM (SELECT DISTINCT s.realm, l.canonical_id, s.subject
        |        FROM subj s JOIN lab l ON s.user_id = l.user_id)
        |  GROUP BY 1, 2),
        |ar AS (
        |  SELECT l.canonical_id, a.alias_id
        |  FROM al a JOIN lab l ON a.user_id = l.user_id
        |  UNION
        |  SELECT canonical_id, user_id FROM lab WHERE user_id <> canonical_id),
        |ar2 AS (
        |  SELECT canonical_id,
        |         string_agg(alias_id, ',' ORDER BY alias_id) AS aliases_csv
        |  FROM (SELECT DISTINCT canonical_id, alias_id FROM ar
        |        WHERE alias_id <> canonical_id)
        |  GROUP BY 1)
        |SELECT m.realm, m.canonical_id, m.n_members, m.members_csv,
        |       s2.subjects_csv, COALESCE(a2.aliases_csv, '') AS aliases_csv
        |FROM mem m JOIN sj s2 USING (realm, canonical_id)
        |LEFT JOIN ar2 a2 USING (canonical_id)
        |ORDER BY realm, canonical_id""".stripMargin,

    "rs1_replica_targets" ->
      s"""WITH ${ObjectTables.objectsCte},
         |${ObjectTables.versionsCte},
         |${ReplicationTables.relationshipsCte},
         |${ReplicationTables.probesCte},
         |relj AS (
         |  SELECT p.p_bucket, p.p_key, r.target_node, r.target_bucket,
         |    r.target_prefix,
         |    CASE WHEN r.source_prefix IS NULL THEN p.p_key
         |         WHEN starts_with(p.p_key, r.source_prefix)
         |           THEN substr(p.p_key, length(r.source_prefix) + 1)
         |         ELSE NULL END AS sfx
         |  FROM probes p JOIN rels r ON r.source_bucket = p.p_bucket
         |  WHERE r.mode IN ('Continuous','Reference') AND r.state = 'Enabled'
         |    AND r.source_node = 'n0' AND r.target_node <> 'n0'
         |    AND (NOT p.p_dm OR r.replicate_deletes)),
         |mapped AS (
         |  SELECT p_bucket, p_key, target_node AS node_id,
         |    target_bucket AS t_bucket,
         |    CASE WHEN sfx IS NULL THEN NULL
         |         WHEN target_prefix IS NULL THEN regexp_replace(sfx, '^/+', '')
         |         WHEN ends_with(target_prefix, '/') AND starts_with(sfx, '/')
         |           THEN target_prefix || substr(sfx, 2)
         |         WHEN NOT ends_with(target_prefix, '/') AND sfx <> ''
         |              AND NOT starts_with(sfx, '/')
         |           THEN target_prefix || '/' || sfx
         |         ELSE target_prefix || sfx END AS t_key
         |  FROM relj)
         |SELECT DISTINCT p_bucket, p_key, node_id, t_bucket, t_key
         |FROM mapped WHERE t_key IS NOT NULL
         |ORDER BY p_bucket, p_key, node_id, t_bucket, t_key""".stripMargin,

    "rs2_blob_locations" ->
      s"""WITH ${ObjectTables.objectsCte},
         |${ObjectTables.versionsCte},
         |${ReplicationTables.relationshipsCte},
         |${ReplicationTables.bucketTargetsCte},
         |${ReplicationTables.jobsCte},
         |${ReplicationTables.probesCte},
         |relj AS (
         |  SELECT p.p_bucket, p.p_key, r.target_node, r.target_bucket,
         |    r.target_prefix,
         |    CASE WHEN r.source_prefix IS NULL THEN p.p_key
         |         WHEN starts_with(p.p_key, r.source_prefix)
         |           THEN substr(p.p_key, length(r.source_prefix) + 1)
         |         ELSE NULL END AS sfx
         |  FROM probes p JOIN rels r ON r.source_bucket = p.p_bucket
         |  WHERE r.mode IN ('Continuous','Reference') AND r.state = 'Enabled'
         |    AND r.source_node = 'n0' AND r.target_node <> 'n0'
         |    AND (NOT p.p_dm OR r.replicate_deletes)),
         |rel_t AS (
         |  SELECT DISTINCT p_bucket, p_key, target_node AS node_id,
         |    target_bucket AS bucket,
         |    CASE WHEN target_prefix IS NULL THEN regexp_replace(sfx, '^/+', '')
         |         WHEN ends_with(target_prefix, '/') AND starts_with(sfx, '/')
         |           THEN target_prefix || substr(sfx, 2)
         |         WHEN NOT ends_with(target_prefix, '/') AND sfx <> ''
         |              AND NOT starts_with(sfx, '/')
         |           THEN target_prefix || '/' || sfx
         |         ELSE target_prefix || sfx END AS key,
         |    1 AS phase, TRUE AS expected
         |  FROM relj WHERE sfx IS NOT NULL),
         |cfg_t AS (
         |  SELECT DISTINCT p.p_bucket, p.p_key, c.target_node AS node_id,
         |    c.cfg_target_bucket AS bucket, p.p_key AS key,
         |    2 AS phase, TRUE AS expected
         |  FROM probes p JOIN cfg c ON c.cfg_bucket = p.p_bucket
         |  WHERE c.target_node <> 'n0' AND (NOT p.p_dm OR c.cfg_markers)),
         |win AS (SELECT * FROM jobs ORDER BY job_key LIMIT 1024),
         |q_t AS (
         |  SELECT DISTINCT p.p_bucket, p.p_key, w.j_node AS node_id,
         |    p.p_bucket AS bucket, p.p_key AS key, 3 AS phase, TRUE AS expected
         |  FROM probes p JOIN win w ON w.decodable AND w.j_bucket = p.p_bucket
         |    AND (NOT p.p_dm OR w.j_markers)
         |    AND (w.j_kind = 'Bucket'
         |         OR (w.j_kind = 'Prefix' AND starts_with(p.p_key, w.j_prefix))
         |         OR (w.j_kind = 'Object' AND w.j_key = p.p_key)
         |         OR (w.j_kind = 'Version' AND w.j_key = p.p_key
         |             AND w.j_version = p.p_version))
         |  WHERE w.j_node <> 'n0'),
         |hold_t AS (
         |  SELECT p.p_bucket, p.p_key, 'n' || n AS node_id,
         |    p.p_bucket AS bucket, p.p_key AS key, 4 AS phase, FALSE AS expected
         |  FROM probes p, range(1, 9) t(n)
         |  WHERE NOT p.p_dm
         |    AND CAST(('0x' || substr(md5(concat_ws('|', p.p_hash, 'n' || n)),
         |                             1, 15)) AS BIGINT) % 3 = 0),
         |arr AS (
         |  SELECT p_bucket, p_key, node_id, bucket, key,
         |    MIN(phase) AS phase, MAX(expected) AS expected
         |  FROM (SELECT * FROM rel_t UNION ALL SELECT * FROM cfg_t
         |        UNION ALL SELECT * FROM q_t UNION ALL SELECT * FROM hold_t)
         |  GROUP BY 1, 2, 3, 4, 5),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_bucket, p_key
         |            ORDER BY phase, node_id, bucket, key) AS arrival
         |  FROM arr),
         |maxed AS (
         |  SELECT *, MAX(arrival) OVER (PARTITION BY p_bucket, p_key) > 64
         |              AS capped
         |  FROM ranked),
         |cand AS (SELECT * FROM maxed WHERE arrival <= 64),
         |allrows AS (
         |  SELECT p.p_bucket, p.p_key, p.p_version, p.p_dm, 'n0' AS node_id,
         |    p.p_bucket AS bucket, p.p_key AS key, TRUE AS expected,
         |    FALSE AS capped, TRUE AS is_local
         |  FROM probes p
         |  UNION ALL
         |  SELECT c.p_bucket, c.p_key, p.p_version, p.p_dm, c.node_id,
         |    c.bucket, c.key, c.expected, c.capped, FALSE
         |  FROM cand c JOIN probes p USING (p_bucket, p_key)),
         |cls AS (
         |  SELECT *,
         |    CAST(('0x' || substr(md5(concat_ws('|', node_id, bucket, key,
         |                                       p_version)), 1, 15))
         |         AS BIGINT) % 5 < 2 AS held
         |  FROM allrows),
         |st AS (
         |  SELECT *,
         |    CASE WHEN held THEN 'Present' WHEN p_dm THEN 'NotStored'
         |         ELSE 'Pending' END AS state,
         |    CASE WHEN NOT held THEN NULL
         |         WHEN CAST(('0x' || substr(md5(concat_ws('|', node_id, key)),
         |                                   1, 15)) AS BIGINT) % 2 = 0
         |           THEN 'NodeManaged' ELSE 'GroupBackend' END AS storage,
         |    (NOT is_local AND NOT held AND NOT expected) AS dropped
         |  FROM cls),
         |fl AS (
         |  SELECT *,
         |    MAX(CASE WHEN dropped THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY p_bucket, p_key, node_id) = 1 AS node_answered
         |  FROM st),
         |fl2 AS (
         |  SELECT *,
         |    MAX(CASE WHEN node_answered THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY p_bucket, p_key) = 1 AS path_unknown,
         |    MAX(CASE WHEN capped THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY p_bucket, p_key) = 1 AS capped2
         |  FROM fl),
         |qf AS (
         |  SELECT (SELECT CAST(SUM(CASE WHEN NOT decodable THEN 1 ELSE 0 END)
         |                      AS BIGINT) FROM win) AS q_skipped,
         |         (SELECT COUNT(*) FROM jobs) > 1024 AS q_truncated)
         |SELECT p_bucket, p_key, p_version AS version_id, is_local AS local,
         |  node_id, bucket, key, state, storage, q_truncated, q_skipped,
         |  capped2 AS capped, path_unknown,
         |  (NOT q_truncated AND q_skipped = 0 AND NOT capped2
         |   AND NOT path_unknown) AS complete
         |FROM fl2, qf WHERE NOT dropped
         |ORDER BY p_bucket, p_key, local DESC, node_id, bucket, key""".stripMargin,

    "pbr1_put_replication" ->
      s"""WITH ${ObjectTables.bucketsCte},
         |base AS (
         |  SELECT 'pr'||o_orderkey AS req_id,
         |    CASE WHEN w=0 THEN 'ws-tmp-1'
         |         ELSE 'bkt-'||(o_custkey%6) END AS bucket,
         |    w=1 AS all_disabled, o_orderkey%3+1 AS nr, o_orderkey
         |  FROM (SELECT *, (o_orderkey//71)%8 AS w FROM orders
         |        WHERE o_orderkey%71=0)),
         |rules AS (
         |  SELECT req_id, bucket, CAST(rule_seq AS INT) AS rule_seq,
         |    CASE WHEN all_disabled THEN 'Disabled' ELSE 'Enabled' END AS status,
         |    CASE (o_orderkey+rule_seq)%10
         |      WHEN 0 THEN 'arn:aruna:rlmA:n'||(o_orderkey%5)||':s3/tb-'||(o_orderkey%7)
         |      WHEN 1 THEN 'nonsense'
         |      WHEN 2 THEN 'arn:aruna:rlmA:n3:ch/abcd'
         |      WHEN 3 THEN 'arn:aruna:rlmB:n3:s3/tb-9'
         |      WHEN 4 THEN 'arn:aruna:rlmA:n3:s3/tb-2/pre/fix'
         |      WHEN 5 THEN 'arn:aruna:rlmA:n3:s3/ws-shadow'
         |      WHEN 6 THEN 'arn:aruna:rlmA:n0:s3/'||bucket
         |      WHEN 7 THEN 'arn:aruna:rlmA:n4:s3'
         |      WHEN 8 THEN 'arn:aruna:rlmA:n5:s3/'
         |      ELSE 'arn:aruna:rlmA:n'||(o_orderkey%5)||':s3/tbm-'||(o_orderkey%7)
         |    END AS dest_arn,
         |    CASE (o_orderkey+rule_seq)%10 WHEN 9 THEN 'Enabled'
         |      WHEN 0 THEN 'Disabled' END AS dm_status
         |  FROM base, range(1,4) t(rule_seq) WHERE rule_seq <= nr),
         |parsed AS (
         |  SELECT *,
         |    regexp_extract(a_res, '^([^/]+)/(.+)$$', 1) AS a_type,
         |    regexp_extract(a_res, '^([^/]+)/(.+)$$', 2) AS a_path
         |  FROM (SELECT *,
         |      regexp_extract(dest_arn, '^arn:aruna:([^:]+):([^:]+):(.+)$$', 0) AS a_whole,
         |      regexp_extract(dest_arn, '^arn:aruna:([^:]+):([^:]+):(.+)$$', 1) AS a_realm,
         |      regexp_extract(dest_arn, '^arn:aruna:([^:]+):([^:]+):(.+)$$', 2) AS a_node,
         |      regexp_extract(dest_arn, '^arn:aruna:([^:]+):([^:]+):(.+)$$', 3) AS a_res
         |    FROM rules WHERE status='Enabled')),
         |coded AS (
         |  SELECT *,
         |    CASE WHEN a_whole='' THEN 'ArnParse'
         |         WHEN a_type='' THEN 'ArnParse'
         |         WHEN a_type NOT IN ('s3','ch') THEN 'ArnParse'
         |         WHEN a_type='ch' THEN 'ArnNotS3'
         |         WHEN a_realm<>'rlmA' THEN 'RealmMismatch'
         |         WHEN contains(a_path, '/') THEN 'ArnPrefix'
         |         WHEN starts_with(t_bucket, 'ws-') THEN 'WorkspaceTarget'
         |         WHEN a_node='n0' AND t_bucket=bucket THEN 'SelfReplication'
         |    END AS code
         |  FROM (SELECT *, regexp_extract(a_path, '^([^/]+)', 1) AS t_bucket
         |        FROM parsed)),
         |perreq AS (
         |  SELECT req_id, bucket,
         |    arg_min(code, rule_seq) FILTER (WHERE code IS NOT NULL) AS fail_code,
         |    MIN(rule_seq) FILTER (WHERE code IS NOT NULL) AS fail_seq,
         |    COUNT(*) AS n_enabled
         |  FROM coded GROUP BY 1, 2),
         |reqs AS (
         |  SELECT r.req_id, r.bucket, p.fail_code, p.fail_seq,
         |    CASE WHEN starts_with(r.bucket, 'ws-') THEN 'WorkspaceSource'
         |         WHEN p.fail_code IS NOT NULL THEN p.fail_code
         |         WHEN p.n_enabled IS NULL THEN 'NoEnabledTargets'
         |         WHEN b.bucket IS NULL THEN 'NoSuchBucket'
         |         ELSE 'OK' END AS verdict
         |  FROM (SELECT DISTINCT req_id, bucket FROM rules) r
         |  LEFT JOIN perreq p USING (req_id, bucket)
         |  LEFT JOIN buckets b ON b.bucket = r.bucket)
         |SELECT c.req_id, c.bucket, c.rule_seq, 'OK' AS verdict,
         |       c.a_node AS node_id, c.t_bucket AS target_bucket,
         |       COALESCE(c.dm_status='Enabled', FALSE) AS replicate_dm
         |FROM coded c
         |WHERE c.code IS NULL
         |  AND c.req_id IN (SELECT req_id FROM reqs WHERE verdict='OK')
         |UNION ALL
         |SELECT req_id, bucket,
         |       CASE WHEN verdict=fail_code THEN fail_seq END AS rule_seq,
         |       verdict, NULL, NULL, NULL
         |FROM reqs WHERE verdict<>'OK'
         |ORDER BY req_id, rule_seq NULLS FIRST""".stripMargin,

    "mz1_materialization_drain" ->
      s"""WITH $mqCtes,
         |ann AS (
         |  SELECT j.doc_id, j.event_id, j.due_at_ms, j.attempts, j.failures,
         |         j.parks, s.st_event, s.st_attempts, s.st_state,
         |         e.graph_iri, e.apply_outcome,
         |         e.graph_iri IS NOT NULL AS ev_ok,
         |         COALESCE(l.deleted, false) AS g_deleted, d.parks AS dl_parks
         |  FROM mqjobs j
         |  LEFT JOIN mqst s USING (doc_id)
         |  LEFT JOIN mqev e USING (doc_id, event_id)
         |  LEFT JOIN mqlc l ON e.graph_iri = l.graph_iri
         |  LEFT JOIN mqdl d ON j.doc_id = d.doc_id AND j.event_id = d.event_id),
         |a2 AS (
         |  SELECT *,
         |    COALESCE(st_state IN ('materialized','failed'), false) AS st_final,
         |    COALESCE(st_event >= event_id
         |      AND st_state IN ('materialized','failed'), false) AS obsolete_final
         |  FROM ann),
         |a3 AS (
         |  SELECT *, NOT obsolete_final AND COALESCE(st_event = event_id
         |    AND st_attempts > attempts, false) AS retry_advanced
         |  FROM a2),
         |a4 AS (
         |  SELECT *, ev_ok AND NOT obsolete_final
         |    AND (due_at_ms > 1000000 OR retry_advanced) AS blocking
         |  FROM a3),
         |a5 AS (
         |  SELECT *,
         |    COALESCE(MAX(CASE WHEN blocking THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) = 1,
         |      false) AS blocked,
         |    due_at_ms <= 1000000 AS is_due,
         |    failures + CASE WHEN apply_outcome = 'application'
         |                    THEN 1 ELSE 0 END AS fail_next
         |  FROM a4),
         |a6 AS (
         |  SELECT *, CASE WHEN blocked THEN 'blocked'
         |    WHEN obsolete_final THEN 'obsolete_final'
         |    WHEN retry_advanced THEN 'retry_advanced'
         |    WHEN NOT ev_ok THEN 'event_missing'
         |    WHEN g_deleted THEN 'graph_deleted'
         |    WHEN apply_outcome = 'ok' THEN 'materialized'
         |    WHEN apply_outcome = 'terminal' THEN 'failed_terminal'
         |    WHEN fail_next >= 10 THEN 'parked'
         |    ELSE 'rescheduled' END AS prelim
         |  FROM a5),
         |a7 AS (
         |  SELECT *, MIN(CASE WHEN is_due
         |      AND prelim IN ('blocked','rescheduled','parked')
         |      THEN event_id END) OVER (PARTITION BY doc_id) AS stop_ev
         |  FROM a6),
         |a8 AS (
         |  SELECT *, CASE WHEN stop_ev IS NOT NULL AND event_id > stop_ev
         |                 THEN 'not_attempted' ELSE prelim END AS verdict
         |  FROM a7 WHERE is_due),
         |a9 AS (
         |  SELECT *,
         |    CASE WHEN verdict = 'materialized' THEN 'materialized'
         |         WHEN verdict IN ('failed_terminal','graph_deleted','parked')
         |           THEN 'failed'
         |         WHEN verdict = 'rescheduled' THEN 'pending' END AS new_state,
         |    CASE WHEN verdict = 'parked'
         |         THEN greatest(COALESCE(dl_parks, 0), parks) + 1
         |         END AS new_parks
         |  FROM a8)
         |SELECT doc_id, event_id, verdict,
         |  verdict NOT IN ('blocked','not_attempted','retry_advanced')
         |    AS attempted,
         |  new_state,
         |  CAST(CASE WHEN new_state IS NOT NULL THEN attempts + 1 END
         |       AS BIGINT) AS new_attempts,
         |  CAST(CASE WHEN verdict IN ('rescheduled','parked') THEN fail_next
         |            WHEN new_state IS NOT NULL THEN failures END
         |       AS BIGINT) AS new_failures,
         |  CAST(CASE WHEN verdict = 'rescheduled' THEN 1000000 +
         |    least(30000, 250 * (1 << CAST(least(attempts + 1, 7) AS INT)))
         |    END AS BIGINT) AS next_due_at_ms,
         |  CAST(new_parks AS BIGINT) AS new_parks,
         |  CAST(CASE WHEN verdict = 'parked' THEN 1000000 +
         |    least(3600000, 60000 * (1 << CAST(least(new_parks - 1, 7) AS INT)))
         |    END AS BIGINT) AS requeue_at_ms,
         |  verdict IN ('materialized','failed_terminal','graph_deleted',
         |    'event_missing','obsolete_final','parked','retry_advanced')
         |    AS job_deleted,
         |  verdict IN ('materialized','failed_terminal','graph_deleted',
         |    'event_missing','obsolete_final','parked') AS sidecar_deleted,
         |  CASE WHEN verdict IN ('materialized','failed_terminal',
         |         'graph_deleted','parked')
         |       THEN NOT (COALESCE(st_event > event_id, false)
         |         OR COALESCE(st_event = event_id
         |              AND st_attempts >= attempts + 1, false)
         |         OR COALESCE(st_event = event_id AND st_final, false))
         |       WHEN verdict = 'rescheduled'
         |       THEN NOT (COALESCE(st_event > event_id, false)
         |         OR COALESCE(st_event = event_id
         |              AND st_attempts > attempts + 1, false))
         |       ELSE false END AS status_written,
         |  verdict = 'materialized' AND doc_id*4096 + event_id =
         |    MAX(CASE WHEN verdict = 'materialized'
         |        THEN doc_id*4096 + event_id END)
         |      OVER (PARTITION BY graph_iri) AS sync_scheduled
         |FROM a9 ORDER BY doc_id, event_id""".stripMargin,

    "mz2_dead_letter_requeue" ->
      s"""WITH $mqCtes,
         |dlb AS (SELECT DISTINCT CAST(o_orderkey % 48 AS BIGINT) AS doc_id,
         |               CAST((o_orderkey // 48) % 4 AS BIGINT) AS event_id
         |        FROM orders),
         |dl2 AS (SELECT doc_id, event_id,
         |         (doc_id + event_id) % 3 + 1 AS parks,
         |         CASE WHEN (doc_id*3 + event_id) % 7 = 0
         |              THEN 1005000 ELSE 995000 END AS requeue_at_ms
         |        FROM dlb),
         |ann AS (SELECT x.*, s.st_event, s.st_state,
         |               e.graph_iri IS NOT NULL AS ev_ok
         |        FROM dl2 x LEFT JOIN mqst s USING (doc_id)
         |        LEFT JOIN mqev e USING (doc_id, event_id)),
         |a2 AS (SELECT *,
         |        COALESCE(st_event >= event_id
         |          AND st_state IN ('materialized','failed')
         |          AND (st_event > event_id OR st_state = 'materialized'),
         |          false) AS superseded
         |       FROM ann),
         |a3 AS (SELECT *, CASE WHEN requeue_at_ms > 1000000 THEN 'waiting'
         |         WHEN NOT ev_ok THEN 'dropped_missing_event'
         |         WHEN superseded THEN 'superseded'
         |         ELSE 'requeued' END AS verdict
         |       FROM a2)
         |SELECT doc_id, event_id, verdict,
         |  verdict <> 'waiting' AS letter_deleted,
         |  CAST(CASE WHEN verdict = 'requeued' THEN 0 END AS BIGINT)
         |    AS job_attempts,
         |  CAST(CASE WHEN verdict = 'requeued' THEN 9 END AS BIGINT)
         |    AS job_failures,
         |  CAST(CASE WHEN verdict = 'requeued' THEN parks END AS BIGINT)
         |    AS job_parks
         |FROM a3 ORDER BY doc_id, event_id""".stripMargin,

    "gp1_prune_tombstones" ->
      """WITH tmb AS (
        |  SELECT o_orderkey AS seq, 'g'||(o_orderkey%80) AS graph_iri,
        |         CAST(o_orderkey%240 + 1000 AS BIGINT) AS document_id,
        |         (o_orderkey%5) <> 0 AS deleted
        |  FROM orders),
        |sg AS (SELECT 'g'||k AS graph_iri FROM range(0,80) t(k)
        |       WHERE k%3 <> 1),
        |idx AS (SELECT DISTINCT CAST(o_orderkey%240 + 1000 AS BIGINT)
        |          AS document_id, 'r'||(o_orderkey%11) AS ref_iri
        |        FROM orders
        |        WHERE (o_orderkey%240 + 1000 + o_orderkey%11) % 3 <> 0),
        |pg AS (SELECT graph_iri, COUNT(*) AS n_tombstones,
        |         CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_deleted,
        |         arg_min(document_id, seq) FILTER (WHERE deleted)
        |           AS document_id
        |       FROM tmb GROUP BY graph_iri),
        |en AS (SELECT * FROM pg WHERE n_deleted > 0),
        |ic AS (SELECT document_id, COUNT(*) AS nn FROM idx
        |       GROUP BY document_id)
        |SELECT e.graph_iri, e.document_id,
        |  CAST(n_tombstones AS BIGINT) AS n_tombstones, n_deleted,
        |  s.graph_iri IS NOT NULL AS pruned,
        |  CAST(COALESCE(ic.nn, 0) AS BIGINT) AS n_iri_rows_pruned
        |FROM en e LEFT JOIN sg s USING (graph_iri)
        |LEFT JOIN ic USING (document_id)
        |ORDER BY graph_iri""".stripMargin,

    "ivr1_incoming_negotiation" ->
      """WITH mseq AS (SELECT DISTINCT CAST(o_orderkey % 96 AS BIGINT) AS m
        |              FROM orders),
        |man AS (SELECT m, 'bk'||(m%12) AS bucket, 'k'||m AS key,
        |  m%4 AS version_id,
        |  CASE m%5 WHEN 0 THEN 'delete_marker' WHEN 1 THEN 'reference'
        |       ELSE 'materialized' END AS kind,
        |  CASE WHEN m%17=3 THEN 5 ELSE m%3 END AS hop_count,
        |  CASE WHEN m%19=4 THEN 'other' ELSE 'r1' END AS realm,
        |  CASE WHEN m%23=5 THEN 'other' WHEN m%2=0 THEN 'r1' END
        |    AS writer_realm,
        |  'h'||(m%40) AS hash, 's'||(m%7) AS ref_sig,
        |  'b'||((m%12)%4) AS route_backend FROM mseq),
        |bkt AS (SELECT 'bk'||j AS bucket FROM range(0,12) t(j)
        |        WHERE j%5 <> 4),
        |prm AS (SELECT 'bk'||j AS bucket, j%7 <> 2 AS can_write,
        |               j%11 <> 3 AS writer_ok FROM range(0,12) t(j)),
        |ver AS (SELECT 'bk'||(m%12) AS bucket, 'k'||m AS key,
        |  m%4 AS version_id,
        |  CASE (m*5)%4 WHEN 1 THEN 'deleted' WHEN 2 THEN 'reference'
        |       ELSE 'materialized' END AS ex_state,
        |  'h'||(CASE WHEN m%6=0 THEN m%40 ELSE (m+1)%40 END) AS ex_hash,
        |  's'||(CASE WHEN m%8=0 THEN m%7 ELSE (m+2)%7 END) AS ex_ref_sig,
        |  m + 100 AS ex_ref_len FROM mseq WHERE m%7 < 4),
        |locs AS (SELECT 'h'||x AS hash, 'b'||b AS backend,
        |                x*10 + 1000 AS size
        |         FROM range(0,40) t(x), range(0,4) u(b)
        |         WHERE (x + b*7)%5 < 2),
        |bks AS (SELECT 'b'||j AS backend, j = 2 AS full
        |        FROM range(0,4) t(j)),
        |exb AS (SELECT hash AS ex_hash, MAX(size) AS ex_blob_size
        |        FROM locs GROUP BY hash),
        |ann AS (SELECT man.*, b.bucket IS NOT NULL AS bkt_exists,
        |  p.can_write, p.writer_ok, v.ex_state, v.ex_hash, v.ex_ref_sig,
        |  v.ex_ref_len, l.size AS probe_size, k.full AS backend_full,
        |  e.ex_blob_size
        | FROM man
        | LEFT JOIN bkt b USING (bucket)
        | LEFT JOIN prm p USING (bucket)
        | LEFT JOIN ver v USING (bucket, key, version_id)
        | LEFT JOIN locs l ON man.hash = l.hash
        |   AND man.route_backend = l.backend
        | LEFT JOIN bks k ON man.route_backend = k.backend
        | LEFT JOIN exb e ON v.ex_hash = e.ex_hash),
        |a2 AS (SELECT *,
        |  COALESCE(ex_ref_sig = ref_sig, false) AS same_ref,
        |  kind = 'materialized' AND probe_size IS NULL
        |    AND NOT COALESCE(ex_state = 'materialized' AND ex_hash = hash,
        |      false) AS need_bytes_probe
        |  FROM ann),
        |a3 AS (SELECT *,
        |  CASE WHEN hop_count > 4 THEN 'hop_limit'
        |       WHEN realm <> 'r1' THEN 'realm_mismatch'
        |       WHEN writer_realm IS NOT NULL AND writer_realm <> 'r1'
        |         THEN 'realm_mismatch'
        |       WHEN NOT COALESCE(can_write, false) THEN 'write_permission'
        |       WHEN NOT COALESCE(writer_ok, false) THEN 'writer_access'
        |       WHEN need_bytes_probe AND COALESCE(backend_full, false)
        |         THEN 'backend_full' END AS reason
        |  FROM a2),
        |a4 AS (SELECT *, CASE WHEN reason IS NOT NULL THEN 'rejected'
        |   WHEN kind='reference' AND ex_state='reference' AND same_ref
        |     THEN 'already_replicated'
        |   WHEN kind='materialized' AND ex_state='materialized'
        |     AND ex_hash=hash THEN 'already_replicated'
        |   WHEN kind='delete_marker' AND ex_state='deleted'
        |     THEN 'already_replicated'
        |   WHEN kind IN ('reference','delete_marker')
        |     THEN 'need_version_only'
        |   WHEN probe_size IS NOT NULL THEN 'need_version_only'
        |   ELSE 'need_blob_and_version' END AS verdict FROM a3)
        |SELECT bucket, key, CAST(version_id AS BIGINT) AS version_id,
        |  verdict, reason,
        |  (NOT COALESCE(bkt_exists, false)) AND (reason IS NULL
        |    OR reason IN ('write_permission','writer_access','backend_full'))
        |    AS bucket_created,
        |  CAST(CASE WHEN verdict IN ('need_version_only',
        |      'need_blob_and_version') THEN
        |    CASE WHEN ex_state='materialized' THEN COALESCE(ex_blob_size,0)
        |         WHEN ex_state='reference' THEN COALESCE(ex_ref_len,0)
        |         ELSE 0 END END AS BIGINT) AS replaced_logical_bytes
        |FROM a4 ORDER BY bucket, key, version_id""".stripMargin,

    "ivr2_head_transition" ->
      """WITH nseq AS (SELECT DISTINCT CAST(o_orderkey % 80 AS BIGINT) AS n
        |              FROM orders),
        |app AS (SELECT n, 'hb'||(n%10) AS bucket, 'hk'||n AS key,
        |  n%5 AS version_id,
        |  CASE WHEN n%9=7 THEN NULL ELSE n%4 END AS generation,
        |  CASE WHEN n%3=0 THEN 'delete_marker' ELSE 'materialized' END
        |    AS kind,
        |  n%6 <> 5 AS current_version FROM nseq),
        |ptr AS (SELECT 'hb'||(n%10) AS bucket, 'hk'||n AS key,
        |  CASE WHEN n%10=6 THEN n%5 ELSE (n+2)%5 END AS ptr_version,
        |  CASE WHEN n%10=6 THEN n%4 ELSE (n*3)%4 END AS ptr_generation
        |  FROM nseq WHERE n%5 <> 4),
        |cst AS (SELECT 'hb'||(n%10) AS bucket, 'hk'||n AS key,
        |  CASE WHEN n%10=6 THEN n%5 ELSE (n+2)%5 END AS version_id,
        |  CASE WHEN n%2=0 THEN 'materialized' ELSE 'deleted' END AS state
        |  FROM nseq WHERE n%5 <> 4),
        |ann AS (SELECT a.*, p.ptr_version, p.ptr_generation,
        |               c.state AS cur_state
        | FROM app a LEFT JOIN ptr p USING (bucket, key)
        | LEFT JOIN cst c ON a.bucket = c.bucket AND a.key = c.key
        |   AND p.ptr_version = c.version_id),
        |a2 AS (SELECT *, CASE WHEN NOT current_version THEN 'not_current'
        |  WHEN generation IS NULL THEN 'missing_generation'
        |  WHEN ptr_version IS NULL THEN 'pointer_set'
        |  WHEN generation > ptr_generation OR (generation = ptr_generation
        |       AND version_id >= ptr_version) THEN 'pointer_advanced'
        |  ELSE 'pointer_kept' END AS outcome FROM ann),
        |a3 AS (SELECT *, outcome IN ('pointer_set','pointer_advanced')
        |         AS pointer_written FROM a2)
        |SELECT bucket, key, CAST(version_id AS BIGINT) AS version_id,
        |  outcome, pointer_written,
        |  CAST(CASE WHEN pointer_written THEN version_id END AS BIGINT)
        |    AS new_ptr_version,
        |  CAST(CASE WHEN pointer_written THEN generation END AS BIGINT)
        |    AS new_ptr_generation,
        |  CASE WHEN pointer_written
        |       THEN COALESCE(cur_state = 'materialized', false) END
        |    AS previous_live,
        |  CASE WHEN pointer_written THEN kind = 'materialized' END
        |    AS next_live,
        |  CAST(CASE WHEN pointer_written THEN
        |    (CASE WHEN kind = 'materialized' THEN 1 ELSE 0 END) -
        |    (CASE WHEN COALESCE(cur_state = 'materialized', false)
        |          THEN 1 ELSE 0 END) END AS BIGINT) AS object_delta
        |FROM a3 ORDER BY bucket, key, version_id""".stripMargin,

    "ca1_claim_admin" ->
      """WITH cseq AS (SELECT DISTINCT CAST(o_orderkey % 52 AS BIGINT) AS c
        |              FROM orders),
        |cl AS (SELECT 'rm'||c AS realm_id,
        |  c%7 <> 2 AS has_auth_doc, c%9 <> 3 AS has_role,
        |  CASE WHEN c%5 = 1 THEN c%3 + 1 ELSE 0 END AS n_assigned,
        |  CASE WHEN c%4 <> 0 THEN c%11 <> 4 END AS reducer_target_ok,
        |  CASE WHEN c%4 <> 0 THEN c%13 = 5 END AS reducer_assigned,
        |  CASE WHEN c%4 <> 0 THEN c%17 = 8 END AS reducer_conflict
        |  FROM cseq)
        |SELECT realm_id,
        |  CASE WHEN NOT has_auth_doc THEN 'auth_doc_missing'
        |       WHEN NOT has_role THEN 'role_missing'
        |       WHEN n_assigned > 0 THEN 'already_assigned'
        |       WHEN COALESCE(NOT reducer_target_ok, false)
        |         THEN 'target_mismatch'
        |       WHEN COALESCE(reducer_assigned, false)
        |         THEN 'already_in_reducer'
        |       WHEN COALESCE(reducer_conflict, false)
        |         THEN 'conflicted_path'
        |       ELSE 'claimed' END AS verdict
        |FROM cl ORDER BY realm_id""".stripMargin,

    "ex1_export_plan" ->
      """WITH eseq AS (SELECT DISTINCT CAST(o_orderkey % 48 AS BIGINT) AS e
        |              FROM orders),
        |b0 AS (SELECT e,
        |  CASE WHEN e%24 = 13 THEN 'docs/'||repeat('L', 300)
        |       WHEN e%16 = 9 THEN 'docs/dup.txt'
        |       WHEN e%8 = 0 THEN 'docs/a'||e||'.txt'
        |       WHEN e%8 = 1 THEN './x/y'||e||'.bin'
        |       WHEN e%8 = 2 THEN 'bad\p'||e
        |       WHEN e%8 = 3 THEN 'a//b'||e
        |       WHEN e%8 = 4 THEN 'enc%2Fx'||e
        |       WHEN e%8 = 5 THEN 'dir'||e||'/'
        |       WHEN e%8 = 6 THEN 'ro-crate-metadata.json' END AS raw_path
        |  FROM eseq),
        |ents AS (SELECT e, 'en'||e AS ent_id, e%11 <> 6 AS is_file,
        |  CASE WHEN e%16 = 9 OR e%24 = 13 THEN 'r1'
        |       WHEN e%6 = 0 THEN 'r1' WHEN e%6 = 1 THEN 'rX' END
        |    AS exact_realm,
        |  e%4 <> 1 AS has_hash,
        |  CASE WHEN e%9 = 0 THEN 'rX' WHEN e%9 = 1 THEN 'r1' END
        |    AS hash_realm,
        |  raw_path,
        |  CASE WHEN e%8 = 7 THEN 'fb/q'||e||'.dat'
        |       WHEN e%5 = 4 THEN 'alt/q'||e
        |       ELSE raw_path END AS qp1,
        |  CASE WHEN e%7 = 0 THEN 'alt2/q'||e END AS qp2
        |  FROM b0),
        |a1 AS (SELECT *,
        |  exact_realm IS NULL AND NOT has_hash AS external,
        |  COALESCE(exact_realm = 'r1', false) OR (has_hash AND
        |    (hash_realm IS NULL OR hash_realm = 'r1')) AS supported,
        |  CASE WHEN raw_path IS NOT NULL
        |        AND (raw_path = qp1 OR raw_path = qp2)
        |       THEN raw_path ELSE qp1 END AS local_path
        |  FROM ents),
        |a2 AS (SELECT *,
        |  regexp_replace(local_path, '^(\./)+', '') AS s FROM a1),
        |a3 AS (SELECT *,
        |  CASE WHEN local_path IS NULL THEN NULL
        |       WHEN s = '' OR s LIKE '%/' OR contains(s, '\')
        |         OR contains(lower(s), '%2f') OR contains(lower(s), '%5c')
        |         OR starts_with(s, '/') OR contains(s, '//')
        |         OR regexp_matches(s, '(^|/)\.\.?(/|$)') THEN NULL
        |       WHEN s IN ('ro-crate-metadata.json',
        |         'aruna-export-report.json') THEN NULL
        |       ELSE s END AS explicit
        |  FROM a2),
        |a4 AS (SELECT *,
        |  -- the blake3-synthesized path is unique per entity and can never
        |  -- collide with an explicit path; a unique stand-in keys the
        |  -- dedup window identically without recomputing blake3
        |  COALESCE(explicit, 'synth:'||ent_id) AS path0,
        |  is_file AND NOT external AND supported AS eligible
        |  FROM a3),
        |a5 AS (SELECT *,
        |  eligible AND length(path0) > 200 AS too_long FROM a4),
        |a6 AS (SELECT *,
        |  eligible AND NOT too_long AND COUNT(*) OVER (PARTITION BY
        |    CASE WHEN eligible AND NOT too_long THEN path0 END) > 1
        |    AS dup
        |  FROM a5),
        |a7 AS (SELECT *,
        |  CASE WHEN NOT is_file THEN 'not_file'
        |       WHEN external THEN 'omitted_external'
        |       WHEN NOT supported THEN 'omitted_unsupported'
        |       WHEN too_long THEN 'path_too_long'
        |       WHEN dup THEN 'dup_path'
        |       ELSE 'planned' END AS verdict
        |  FROM a6)
        |SELECT ent_id, verdict,
        |  CASE WHEN eligible THEN local_path END AS local_path,
        |  CASE WHEN verdict = 'planned' AND explicit IS NOT NULL
        |       THEN path0 END AS zip_path,
        |  CASE WHEN verdict = 'planned' THEN explicit IS NULL END
        |    AS path_synthesized
        |FROM a7 ORDER BY ent_id""".stripMargin,

    // replay of the ex2 fixture's recognition outcome: the main File
    // entity per crate (path confirmed for even ids, quad-only
    // {"@value"} path for odd ids, contentUrl absent when id%5=0) plus
    // the path-less extra File for id%7=0; root/metadata entities are
    // never Files and never appear
    "ex2_context_alias_recognition" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |main AS (SELECT doc_id AS crate_id,
        |  'https://craqle.invalid/data/'||doc_id||'.txt' AS subject,
        |  'data/'||doc_id||'.txt' AS entity_id,
        |  CASE WHEN doc_id%2 = 0 THEN 'data/'||doc_id||'.txt'
        |       ELSE 'alt/'||doc_id||'.bin' END AS local_path,
        |  CASE WHEN doc_id%5 <> 0
        |       THEN 'https://example.org/c/'||doc_id END AS content_url
        |  FROM d),
        |extra AS (SELECT doc_id AS crate_id,
        |  'https://craqle.invalid/data/extra-'||doc_id||'.png' AS subject,
        |  'data/extra-'||doc_id||'.png' AS entity_id,
        |  CAST(NULL AS VARCHAR) AS local_path,
        |  CAST(NULL AS VARCHAR) AS content_url
        |  FROM d WHERE doc_id%7 = 0)
        |SELECT * FROM (SELECT * FROM main UNION ALL SELECT * FROM extra)
        |ORDER BY crate_id, subject""".stripMargin,

    // replay of the im1 fixture's validation outcome: version gate beats
    // the duplicate-definition gate (validateCrate runs first), ok crates
    // list their normalized File ids in graph order (main, then the
    // %7==0 extra)
    "im1_import_validate" ->
      """WITH d AS (SELECT doc_id AS n FROM documents),
        |x AS (SELECT n,
        |  CASE WHEN n%9=4 THEN 'unsupported_crate_version'
        |       WHEN n%11=5 THEN 'duplicate_file'
        |       ELSE 'ok' END AS verdict,
        |  CASE WHEN n%4=1 THEN './f%20'||n||'%20b.txt'
        |       ELSE 'data/'||n||'.txt' END AS main_id,
        |  n%7=0 AS extra FROM d)
        |SELECT n AS crate_id, verdict,
        |  CAST(CASE WHEN verdict='ok'
        |       THEN 1 + CASE WHEN extra THEN 1 ELSE 0 END END AS BIGINT)
        |    AS n_files,
        |  CASE WHEN verdict='ok' THEN main_id ||
        |       CASE WHEN extra THEN ',data/x'||n||'.png' ELSE '' END END
        |    AS file_ids
        |FROM x ORDER BY crate_id""".stripMargin,

    // replay of the im2 fixture's rewrite outcome: every ok crate's
    // hasPart head and File id become the staged w3id, localPath /
    // contentUrl prepends land under compact keys for flavors 0/1 and
    // absolute-IRI keys for flavor 2 (whose context maps both terms
    // away), the %8==3 pre-existing localPath merges into a 2-array only
    // when the prepend used the same compact key, only the 1.1-context
    // flavor gains the localPath context mapping, and the %6==2
    // plain-string reference is warned, never rewritten
    "im2_import_rewrite" ->
      """WITH d AS (SELECT doc_id AS n FROM documents),
        |x AS (SELECT n, n%3 AS fl,
        |  CASE WHEN n%9=4 THEN 'unsupported_crate_version'
        |       WHEN n%11=5 THEN 'duplicate_file'
        |       ELSE 'ok' END AS verdict,
        |  CASE WHEN n%4=1 THEN './f%20'||n||'%20b.txt'
        |       ELSE 'data/'||n||'.txt' END AS main_id,
        |  n%6=2 AS warn, n%8=3 AS oldlp FROM d)
        |SELECT n AS crate_id, verdict,
        |  CASE WHEN verdict='ok'
        |       THEN 'https://w3id.org/aruna/data/arn:c'||n END AS ref_id,
        |  CASE WHEN verdict='ok'
        |       THEN 'https://w3id.org/aruna/data/arn:c'||n END AS file_id_out,
        |  CASE WHEN verdict='ok' THEN 'files/'||n||'.txt' END
        |    AS local_path_out,
        |  CASE WHEN verdict='ok' THEN 'https://w3id.org/aruna/data/'||
        |       md5('h'||n)||md5('g'||n) END AS content_url_out,
        |  CAST(CASE WHEN verdict='ok'
        |       THEN CASE WHEN oldlp AND fl IN (0,1) THEN 2 ELSE 1 END END
        |       AS BIGINT) AS n_local_paths,
        |  CASE WHEN verdict='ok' THEN fl=1 END AS ctx_local,
        |  CAST(CASE WHEN verdict='ok'
        |       THEN CASE WHEN warn THEN 1 ELSE 0 END END AS BIGINT)
        |    AS n_warnings,
        |  CASE WHEN verdict='ok' AND warn THEN main_id END AS first_warning
        |FROM x ORDER BY crate_id""".stripMargin,

    "hp1_pool_slice" ->
      """WITH scs AS (SELECT DISTINCT CAST(o_orderkey % 20 AS BIGINT) AS sc
        |             FROM orders),
        |spans AS (
        |  SELECT sc AS sc_id, 0 AS span_idx, 0 AS span_start,
        |         (sc%6 + 2) * 1024 AS span_end FROM scs
        |  UNION ALL
        |  SELECT sc, 1, 100000, 100000 + (sc%4) * 1024 FROM scs),
        |cons AS (
        |  SELECT sc AS sc_id, sc%3 * 1024 AS c_start,
        |         sc%3 * 1024 + 300 AS c_end FROM scs
        |  UNION ALL
        |  SELECT sc, 2048, 4096 FROM scs WHERE sc%2 = 0
        |  UNION ALL
        |  SELECT sc, 100000, 101024 FROM scs WHERE sc%5 = 1),
        |sp2 AS (SELECT *, (span_end - span_start) // 1024 AS nbands
        |        FROM spans),
        |bnd AS (SELECT x.sc_id, x.span_idx, u.b,
        |         x.span_start + u.b * 1024 AS start,
        |         u.b < x.nbands AND NOT EXISTS (
        |           SELECT 1 FROM cons c WHERE c.sc_id = x.sc_id
        |             AND c.c_start < x.span_start + u.b * 1024 + 1024
        |             AND x.span_start + u.b * 1024 < c.c_end) AS free
        |        FROM sp2 x, range(0,8) u(b) WHERE u.b <= x.nbands),
        |f1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sc_id, span_idx
        |         ORDER BY b) AS rk FROM bnd),
        |f2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sc_id, span_idx
        |         ORDER BY b) AS rk2 FROM f1 WHERE free),
        |runs AS (SELECT sc_id, span_idx, rk - rk2 AS island,
        |           MIN(start) AS run_start, COUNT(*) AS len
        |         FROM f2 GROUP BY 1, 2, 3),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sc_id
        |           ORDER BY len DESC, span_idx, run_start) AS rn
        |         FROM runs)
        |SELECT s.sc AS sc_id,
        |  CAST(CASE WHEN b.len >= 2
        |       THEN b.run_start + ((b.len + 1) // 2) * 1024 END AS BIGINT)
        |    AS slice_start,
        |  CAST(CASE WHEN b.len >= 2
        |       THEN b.run_start + b.len * 1024 END AS BIGINT) AS slice_end
        |FROM scs s LEFT JOIN best b ON s.sc = b.sc_id AND b.rn = 1
        |ORDER BY sc_id""".stripMargin,

    "db1_delete_bucket" ->
      """WITH bx AS (SELECT k AS x FROM range(0,24) t(k)),
        |req AS (SELECT DISTINCT 'db'||CAST(o_orderkey % 28 AS BIGINT)
        |          AS bucket FROM orders),
        |bkt AS (SELECT 'db'||x AS bucket FROM bx),
        |heads AS (SELECT 'db'||x AS bucket, 'k'||i AS key
        |          FROM bx, range(0,3) u(i) WHERE x%5 = 1),
        |vers AS (SELECT 'db'||x AS bucket, 'v'||i AS key, 1 AS version_id
        |         FROM bx, range(0,2) u(i) WHERE x%5 = 2),
        |ups AS (SELECT 'up'||i AS upload_id, 'db'||x AS bucket
        |        FROM bx, range(0,2) u(i) WHERE x%5 = 3),
        |ro AS (SELECT 'db'||x AS bucket, 'ro'||i AS rel_id
        |       FROM bx, range(0,2) u(i) WHERE x%3 = 0),
        |ri AS (SELECT 'db'||x AS bucket, 'ri'||i AS rel_id
        |       FROM bx, range(0,3) u(i) WHERE x%4 = 0),
        |cnt AS (SELECT r.bucket,
        |  b.bucket IS NOT NULL AS ex,
        |  (SELECT COUNT(*) FROM heads h WHERE h.bucket = r.bucket) AS n_obj,
        |  (SELECT COUNT(*) FROM vers v WHERE v.bucket = r.bucket) AS n_ver,
        |  (SELECT COUNT(*) FROM ups u2 WHERE u2.bucket = r.bucket) AS n_up,
        |  (SELECT COUNT(*) FROM ro WHERE ro.bucket = r.bucket) AS n_out,
        |  (SELECT COUNT(*) FROM ri WHERE ri.bucket = r.bucket) AS n_in
        | FROM req r LEFT JOIN bkt b USING (bucket)),
        |v2 AS (SELECT *,
        |  CASE WHEN NOT ex THEN 'not_found'
        |       WHEN n_obj > 0 THEN 'not_empty_objects'
        |       WHEN n_ver > 0 THEN 'not_empty_versions'
        |       WHEN n_up > 0 THEN 'not_empty_uploads'
        |       ELSE 'deleted' END AS verdict FROM cnt)
        |SELECT bucket, verdict,
        |  CAST(CASE WHEN verdict = 'deleted' THEN n_out + n_in END
        |       AS BIGINT) AS n_rels_removed
        |FROM v2 ORDER BY bucket""".stripMargin,

    "wo1_output_expand" ->
      """WITH vseq AS (SELECT DISTINCT CAST(o_orderkey % 44 AS BIGINT) AS v
        |              FROM orders),
        |sel AS (SELECT 'sl'||v AS sel_id,
        |  '/out/p'||(v%4)||'/f'||v AS container_path,
        |  v%3 <> 0 AS wildcard,
        |  CASE WHEN v%3 <> 0 AND v%7 = 1 THEN NULL
        |       ELSE '/out/p'||(v%4) END AS path_prefix,
        |  'ob'||(v%5) AS dest_bucket,
        |  CASE WHEN v%2 = 0 THEN 'res/'||v||'/' ELSE 'res/'||v END
        |    AS dest_key
        |  FROM vseq),
        |mt AS (SELECT 'sl'||v AS sel_id,
        |  CASE WHEN (v*7 + j)%13 = 2 THEN '/outside/f'||j
        |       ELSE '/out/p'||(v%4)||'/d'||j||'/f'||j END AS path
        |  FROM vseq, range(0,5) u(j) WHERE j < v%5 AND v%3 <> 0),
        |exp AS (SELECT s.*, m.path FROM sel s LEFT JOIN mt m
        |        USING (sel_id) WHERE s.wildcard),
        |e2 AS (SELECT *,
        |  COUNT(path) OVER (PARTITION BY sel_id) AS n_matches,
        |  CASE WHEN path_prefix IS NOT NULL
        |        AND path LIKE path_prefix||'/%'
        |       THEN substring(path, length(path_prefix) + 2) END AS suffix
        |  FROM exp),
        |e3 AS (SELECT *,
        |  CASE WHEN path_prefix IS NULL THEN 'missing_prefix'
        |       WHEN n_matches > 3 THEN 'too_many_matches'
        |       WHEN MAX(CASE WHEN path IS NOT NULL AND suffix IS NULL
        |                THEN 1 ELSE 0 END) OVER (PARTITION BY sel_id) = 1
        |         THEN 'outside_prefix'
        |       ELSE 'ok' END AS sel_verdict
        |  FROM e2)
        |SELECT sel_id, path AS container_path_out, dest_bucket,
        |  regexp_replace(dest_key, '/+$', '')||'/'||suffix AS dest_key_out,
        |  'ok' AS verdict
        |FROM e3 WHERE sel_verdict = 'ok' AND path IS NOT NULL
        |UNION ALL
        |SELECT DISTINCT sel_id, NULL, NULL, NULL, sel_verdict
        |FROM e3 WHERE sel_verdict <> 'ok'
        |UNION ALL
        |SELECT sel_id, container_path, dest_bucket, dest_key, 'ok'
        |FROM sel WHERE NOT wildcard
        |ORDER BY sel_id, container_path_out""".stripMargin,

    "wo2_output_merge" ->
      """WITH inv AS (
        |  SELECT 'mb'||(u%4) AS bucket, 'mk'||(u%25) AS key,
        |         u*3 AS size, u AS seq
        |  FROM (SELECT DISTINCT CAST(o_orderkey % 50 AS BIGINT) AS u
        |        FROM orders)),
        |cap AS (
        |  SELECT 'mb'||(c%4) AS bucket, 'mk'||(c%25) AS key,
        |         '/out/f'||c AS container_path, c*5 + 1 AS size,
        |         c + 1000 AS seq
        |  FROM (SELECT DISTINCT CAST(o_orderkey % 30 AS BIGINT) AS c
        |        FROM orders)
        |  UNION ALL
        |  SELECT 'mb'||(c%4), 'mk'||(c%25), '/dup/f'||c, c*5 + 1, c + 2000
        |  FROM (SELECT DISTINCT CAST(o_orderkey % 15 AS BIGINT) AS c
        |        FROM orders)),
        |ret AS (SELECT i.bucket, i.key, CAST(NULL AS VARCHAR)
        |          AS container_path, i.size, i.seq,
        |          'inventory' AS source
        |        FROM inv i ANTI JOIN cap c USING (bucket, key)),
        |allr AS (SELECT bucket, key, container_path, size, seq,
        |                'export' AS source FROM cap
        |         UNION ALL SELECT * FROM ret),
        |dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, key
        |         ORDER BY CASE WHEN source = 'inventory' THEN 0 ELSE 1 END,
        |         seq) AS rn FROM allr),
        |kept AS (SELECT * FROM dd WHERE rn = 1),
        |n AS (SELECT COUNT(*) AS nn FROM kept)
        |SELECT bucket, key, source, container_path,
        |  CAST(size AS BIGINT) AS size, nn > 40 AS manifest_overflow
        |FROM kept, n ORDER BY bucket, key""".stripMargin,

    "sr1_materialize_reference" ->
      """WITH wseq AS (SELECT DISTINCT CAST(o_orderkey % 70 AS BIGINT) AS w
        |              FROM orders),
        |req AS (SELECT 'sb'||(w%7) AS bucket, 'sk'||w AS key,
        |  'src'||(w%5) AS src_sig, w*11 + 50 AS content_length,
        |  'ct'||(w%3) AS content_type, 'e'||(w%9) AS etag,
        |  w%13 + 7000 AS last_modified,
        |  w%17 <> 4 AS bucket_ok, w%19 <> 6 AS connector_ok FROM wseq),
        |ptr AS (SELECT 'sb'||(w%7) AS bucket, 'sk'||w AS key,
        |  w%4 AS ptr_version FROM wseq WHERE w%3 <> 1),
        |ver AS (SELECT 'sb'||(w%7) AS bucket, 'sk'||w AS key,
        |  w%4 AS ptr_version,
        |  CASE WHEN w%6=0 THEN 'deleted' WHEN w%6=2 THEN 'materialized'
        |       ELSE 'reference' END AS ex_state,
        |  'src'||(CASE WHEN w%8=0 THEN (w+1)%5 ELSE w%5 END) AS ex_src,
        |  CASE WHEN w%10=5 THEN w*11 + 51 ELSE w*11 + 50 END AS ex_len,
        |  'ct'||(w%3) AS ex_type,
        |  'e'||(CASE WHEN w%12=9 THEN (w+1)%9 ELSE w%9 END) AS ex_etag,
        |  w%13 + 7000 AS ex_lm FROM wseq WHERE w%3 <> 1),
        |ann AS (SELECT r.*, p.ptr_version, v.ex_state, v.ex_src, v.ex_len,
        |               v.ex_type, v.ex_etag, v.ex_lm
        | FROM req r LEFT JOIN ptr p USING (bucket, key)
        | LEFT JOIN ver v USING (bucket, key, ptr_version)),
        |a2 AS (SELECT *,
        |  COALESCE(ex_state = 'reference' AND ex_src = src_sig
        |    AND ex_len = content_length AND ex_type = content_type
        |    AND ex_etag = etag AND ex_lm = last_modified, false)
        |    AS same_source,
        |  COALESCE(ex_state IS NOT NULL AND ex_state <> 'deleted', false)
        |    AS was_live
        |  FROM ann),
        |a3 AS (SELECT *, CASE WHEN NOT bucket_ok THEN 'bucket_guard'
        |  WHEN NOT connector_ok THEN 'connector_changed'
        |  WHEN same_source THEN 'unchanged'
        |  ELSE 'created' END AS verdict FROM a2)
        |SELECT bucket, key, verdict, verdict = 'created' AS changed,
        |  CAST(CASE WHEN verdict = 'created' THEN
        |    CASE WHEN was_live THEN 0 ELSE 1 END END AS BIGINT)
        |    AS objects_delta,
        |  CAST(CASE WHEN verdict = 'created' THEN content_length END
        |       AS BIGINT) AS referenced_bytes_delta
        |FROM a3 ORDER BY bucket, key""".stripMargin,

    "pp1_genesis_ladder" ->
      """WITH tseq AS (SELECT DISTINCT CAST(o_orderkey % 88 AS BIGINT) AS t
        |              FROM orders),
        |tp AS (SELECT 'tp'||t AS topic_id, t%3 <> 0 AS rank0,
        |  t%4 AS n_coholders, t%5 = 0 AS exists_locally,
        |  t%7 = 1 AS known_by_coholder, t%11 = 2 AS unconfirmed,
        |  t%13 = 3 AS group_unreachable, t%17 <> 5 AS lands FROM tseq),
        |v AS (SELECT *,
        |  CASE WHEN exists_locally THEN 'membership_topup'
        |       WHEN rank0 AND n_coholders = 0 THEN 'create_sole'
        |       WHEN rank0 AND known_by_coholder THEN
        |         CASE WHEN lands THEN 'adopted' ELSE 'withheld_adopt' END
        |       WHEN rank0 AND NOT group_unreachable AND NOT unconfirmed
        |         THEN 'create_fresh'
        |       WHEN rank0 THEN 'withheld_probe'
        |       WHEN n_coholders = 0 THEN 'member_skip'
        |       WHEN lands THEN 'pulled'
        |       ELSE 'pull_pending' END AS verdict FROM tp),
        |v2 AS (SELECT *,
        |  verdict IN ('withheld_adopt','withheld_probe') AS withheld,
        |  verdict = 'pull_pending' AS pull_pending FROM v),
        |tr AS (SELECT COALESCE(MAX(CASE WHEN withheld THEN 1 ELSE 0 END), 0)
        |         = 1 AS any_withheld,
        |       COALESCE(MAX(CASE WHEN pull_pending THEN 1 ELSE 0 END), 0)
        |         = 1 AS any_pull_pending FROM v2)
        |SELECT topic_id, verdict, withheld, pull_pending,
        |       any_withheld, any_pull_pending
        |FROM v2, tr ORDER BY topic_id""".stripMargin,

    "js1_submit_dedup" ->
      """WITH zseq AS (SELECT DISTINCT CAST(o_orderkey % 60 AS BIGINT) AS z
        |              FROM orders),
        |subs AS (SELECT 's'||z AS sub_id, 'u'||(z%8) AS user_id,
        |  CASE WHEN z%4=3 THEN NULL ELSE 'dk'||(z%20) END AS dedup_key,
        |  'pd'||(z%6) AS plan_digest,
        |  CASE WHEN z%5=0 THEN NULL WHEN z%5=1 THEN 0
        |       ELSE z%4 + 1 END AS active_cap
        |  FROM zseq),
        |idx AS (SELECT 'dk'||k AS dedup_key, 'j'||k AS idx_job,
        |  'pd'||(k%6) AS idx_digest, k%7 <> 5 AS parseable
        |  FROM range(0,20) t(k) WHERE k%3 <> 2),
        |rec AS (SELECT 'j'||k AS idx_job, k%6 <> 3 AS decodable
        |        FROM range(0,20) t(k) WHERE k%5 <> 4),
        |act AS (SELECT 'u'||k AS user_id, k%5 AS n_active
        |        FROM range(0,8) t(k)),
        |ann AS (SELECT s.*, i.idx_job, i.idx_digest, i.parseable,
        |               r.decodable, a.n_active
        | FROM subs s LEFT JOIN idx i USING (dedup_key)
        | LEFT JOIN rec r USING (idx_job) LEFT JOIN act a USING (user_id)),
        |a2 AS (SELECT *,
        |  COALESCE(parseable, false) AND COALESCE(decodable, false)
        |    AS dedup_live,
        |  active_cap IS NOT NULL AND (active_cap = 0
        |    OR COALESCE(n_active, 0) >= active_cap) AS cap_hit
        |  FROM ann),
        |a3 AS (SELECT *,
        |  CASE WHEN dedup_live AND plan_digest = idx_digest THEN 'existing'
        |       WHEN dedup_live THEN 'plan_conflict'
        |       WHEN cap_hit THEN 'active_limit'
        |       ELSE 'created' END AS outcome FROM a2)
        |SELECT sub_id, outcome,
        |  CASE WHEN outcome IN ('existing','plan_conflict') THEN idx_job
        |       END AS existing_job_id,
        |  idx_job IS NOT NULL AND NOT dedup_live AS dedup_ghost,
        |  outcome = 'created' AND dedup_key IS NOT NULL AS dedup_repointed
        |FROM a3 ORDER BY sub_id""".stripMargin,

    "rrm1_reference_refresh" ->
      """WITH yseq AS (SELECT DISTINCT CAST(o_orderkey % 56 AS BIGINT) AS y
        |              FROM orders),
        |ver AS (SELECT 'rb'||(y%7) AS bucket, 'rk'||y AS key,
        |  y%3 AS version_id,
        |  CASE WHEN y%4=0 THEN 'materialized' ELSE 'reference' END AS state,
        |  y%5*150 + 5000 AS last_refresh, y + 100 AS created_at,
        |  'mt'||(y%4) AS meta_tag, y*10 AS content_length
        |  FROM yseq WHERE y%13 <> 6),
        |ref AS (SELECT 'rb'||(y%7) AS bucket, 'rk'||y AS key,
        |  y%3 AS version_id, y%9*100 + 5000 AS refreshed_at,
        |  y*7 + 3 AS new_content_length FROM yseq),
        |ann AS (SELECT r.*, v.state, v.last_refresh, v.created_at,
        |               v.meta_tag, v.content_length
        |        FROM ref r LEFT JOIN ver v USING (bucket, key, version_id)),
        |a2 AS (SELECT *, CASE WHEN state IS NULL THEN 'missing_version'
        |  WHEN state <> 'reference' THEN 'not_reference'
        |  WHEN refreshed_at <= last_refresh THEN 'stale'
        |  ELSE 'refreshed' END AS verdict FROM ann)
        |SELECT bucket, key, CAST(version_id AS BIGINT) AS version_id,
        |  verdict,
        |  CAST(CASE WHEN verdict = 'refreshed' THEN refreshed_at
        |       WHEN verdict = 'stale' THEN last_refresh END AS BIGINT)
        |    AS last_refresh_out,
        |  CAST(CASE WHEN verdict = 'refreshed' THEN new_content_length
        |       WHEN verdict = 'stale' THEN content_length END AS BIGINT)
        |    AS content_length_out,
        |  CAST(CASE WHEN verdict IN ('refreshed','stale') THEN created_at
        |       END AS BIGINT) AS created_at_out,
        |  CASE WHEN verdict IN ('refreshed','stale') THEN meta_tag END
        |    AS meta_tag_out
        |FROM a2 ORDER BY bucket, key, version_id""".stripMargin,

    "fw1_forward_walk" ->
      """WITH rseq AS (SELECT DISTINCT CAST(o_orderkey % 72 AS BIGINT) AS r
        |              FROM orders),
        |req AS (SELECT 'q'||r AS req_id,
        |  CASE r%3 WHEN 0 THEN 'create' WHEN 1 THEN 'update'
        |       ELSE 'delete' END AS op,
        |  CASE WHEN r%11=9 THEN 'local' WHEN r%11=10 THEN 'forward_empty'
        |       ELSE 'forward' END AS route,
        |  r%5 = 1 AS local_miss FROM rseq),
        |att AS (SELECT 'q'||r AS req_id, j AS rank, 'n'||((r+j)%9)
        |    AS node_id,
        |  (['ok','denied_unauthorized','denied_forbidden','not_found',
        |    'unavailable','reject','err_not_sent','err_possibly_sent',
        |    'local_self','not_found','not_found','unavailable'])
        |    [(r*5 + j*7)%12 + 1] AS resp
        | FROM rseq, range(0,3) u(j)
        | WHERE j <= r%3 AND r%11 NOT IN (9, 10)),
        |walk AS (SELECT * FROM att WHERE resp <> 'local_self'),
        |w2 AS (SELECT *, MIN(CASE WHEN resp IN ('ok','denied_unauthorized',
        |    'denied_forbidden','reject','err_possibly_sent') THEN rank END)
        |    OVER (PARTITION BY req_id) AS stop_rank FROM walk),
        |w3 AS (SELECT *, stop_rank IS NULL OR rank <= stop_rank AS reached
        |       FROM w2),
        |pr AS (SELECT req_id,
        |   COUNT(CASE WHEN reached THEN 1 END) AS n_att,
        |   MAX(CASE WHEN rank = stop_rank THEN resp END) AS stop_resp,
        |   MAX(CASE WHEN rank = stop_rank THEN node_id END) AS stop_node,
        |   CAST(SUM(CASE WHEN reached AND resp = 'not_found'
        |            THEN 1 ELSE 0 END) AS BIGINT) AS nf_walk,
        |   CAST(SUM(CASE WHEN reached AND resp IN ('unavailable',
        |            'err_not_sent') THEN 1 ELSE 0 END) AS BIGINT)
        |     AS fail_other
        | FROM w3 GROUP BY req_id),
        |hc AS (SELECT req_id, COUNT(*) AS n_holders FROM att
        |       GROUP BY req_id),
        |f AS (SELECT q.req_id, q.op, q.route, q.local_miss,
        |   COALESCE(hc.n_holders, 0) AS n_holders, pr.n_att, pr.stop_resp,
        |   pr.stop_node,
        |   COALESCE(pr.nf_walk, 0) +
        |     CASE WHEN q.local_miss THEN 1 ELSE 0 END AS nf_total,
        |   COALESCE(pr.fail_other, 0) + CASE WHEN q.op = 'create'
        |     THEN COALESCE(pr.nf_walk, 0) ELSE 0 END AS n_fail
        | FROM req q LEFT JOIN hc USING (req_id)
        | LEFT JOIN pr USING (req_id)),
        |f2 AS (SELECT *,
        |  CASE WHEN route = 'local' THEN 'local'
        |       WHEN route = 'forward_empty' THEN 'undeliverable'
        |       WHEN stop_resp = 'ok' THEN 'accepted'
        |       WHEN stop_resp = 'denied_unauthorized' THEN 'unauthorized'
        |       WHEN stop_resp = 'denied_forbidden' THEN 'forbidden'
        |       WHEN stop_resp IN ('reject','err_possibly_sent')
        |         THEN 'undeliverable'
        |       WHEN op IN ('update','delete') AND n_holders > 0
        |         AND nf_total = n_holders THEN 'not_found'
        |       ELSE 'undeliverable' END AS outcome
        |  FROM f)
        |SELECT req_id, outcome,
        |  CASE WHEN outcome = 'accepted' THEN stop_node END AS accepted_by,
        |  CAST(CASE WHEN route = 'forward' THEN COALESCE(n_att, 0) END
        |       AS BIGINT) AS n_attempted,
        |  CAST(CASE WHEN route = 'forward' THEN n_fail END AS BIGINT)
        |    AS n_failures,
        |  CASE WHEN route = 'local' THEN NULL
        |       WHEN route = 'forward_empty' THEN 'config_unavailable'
        |       WHEN stop_resp = 'reject' THEN 'rejected'
        |       WHEN stop_resp = 'err_possibly_sent' THEN 'possibly_sent'
        |       WHEN outcome = 'not_found' THEN 'all_not_found'
        |       WHEN outcome = 'undeliverable' AND n_fail = 0
        |         THEN 'no_holder'
        |       WHEN outcome = 'undeliverable' THEN 'failures' END AS detail
        |FROM f2 ORDER BY req_id""".stripMargin,

    "gp2_prune_drain" ->
      """WITH gpj AS (
        |  SELECT k, seq, k*3 + seq*5 AS h FROM (
        |    SELECT DISTINCT CAST(o_orderkey % 160 AS BIGINT) AS k,
        |           CAST((o_orderkey // 160) % 2 AS BIGINT) AS seq
        |    FROM orders)),
        |jobs AS (
        |  SELECT 'g'||k AS graph_iri, seq, k,
        |    CASE WHEN h%4=0 THEN 1000000 + (h%9+1)*500
        |         ELSE 1000000 - (h%7)*100 END AS due_at_ms,
        |    h%6 AS attempts
        |  FROM gpj),
        |due AS (SELECT * FROM jobs WHERE due_at_ms <= 1000000),
        |page AS (SELECT * FROM due ORDER BY graph_iri, seq LIMIT 128),
        |nmeta AS (SELECT COUNT(*) AS n FROM due),
        |cut AS (SELECT graph_iri AS cg, seq AS cs FROM page
        |        ORDER BY graph_iri DESC, seq DESC LIMIT 1),
        |hint AS (SELECT MIN(due_at_ms) AS next_due_at_ms
        |         FROM jobs j, nmeta, cut
        |         WHERE j.due_at_ms > 1000000
        |           AND (n <= 128 OR j.graph_iri < cg
        |                OR (j.graph_iri = cg AND j.seq < cs))),
        |grp AS (SELECT graph_iri, MIN(k) AS k, COUNT(*) AS n_jobs,
        |               MAX(attempts) AS rep_att
        |        FROM page GROUP BY graph_iri),
        |g2 AS (SELECT graph_iri, n_jobs, rep_att,
        |         CASE WHEN k%5 = 2 THEN 'dropped_not_deleted'
        |              WHEN k%7 <> 3 THEN 'pruned'
        |              ELSE 'rescheduled' END AS verdict
        |       FROM grp)
        |SELECT graph_iri, CAST(n_jobs AS BIGINT) AS n_jobs, verdict,
        |  CAST(CASE WHEN verdict = 'dropped_not_deleted' THEN 0 ELSE 1 END
        |       AS BIGINT) AS processed,
        |  CAST(CASE WHEN verdict = 'rescheduled' THEN rep_att + 1 END
        |       AS BIGINT) AS new_attempts,
        |  CAST(CASE WHEN verdict = 'rescheduled' THEN 1000000 +
        |    least(30000, 250 * (1 << CAST(least(rep_att + 1, 7) AS INT)))
        |    END AS BIGINT) AS new_due_at_ms,
        |  (SELECT n FROM nmeta) > 128 AS has_more_due,
        |  (SELECT next_due_at_ms FROM hint) AS next_due_at_ms
        |FROM g2 ORDER BY graph_iri""".stripMargin
  )
}
