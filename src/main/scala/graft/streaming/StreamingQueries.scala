package graft.streaming

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming-semantics operators as batch-verifiable queries: the clock-skew
  * deferral contract, idempotent replay dedup, glob-scoped watch delivery,
  * and 2 s-debounce snapshot emission — all oracle-checked; the live
  * Structured Streaming runner is exercised in StreamingSpec.
  */
object StreamingQueries {

  /** fixed evaluation clock: 2024-01-15T00:00:00Z. */
  val NowMs = 1705276800000L

  /** session gap (8 h) in micros — shared by the ev7 gate and its oracle. */
  val SessionGapUs = 28800L * 1000000L

  /** funnel conversion window (7 d) in micros — ev9 gate + oracle. */
  val FunnelWindowUs = 7L * 86400L * 1000000L

  /** rolling-aggregate trailing window (7 d) — ev10 gate + oracle. */
  val RollWindowDays = 7

  /** click→purchase attribution lag (1 h) — ev14 gate + oracle. */
  val AttributionLagUs = 3600L * 1000000L

  private def ev(s: SparkSession, d: String): DataFrame = Projector.events(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // durable-queue lag probes (queue_lag.rs): three planted queues — a
    // ULID-aged outbox deep enough to trip the 8x1024 scan cap, a
    // due-prefixed materialization queue (half its jobs due at the probe
    // instant), and a depth-only dead-letter queue (age 0 by contract)
    "ql1_queue_lag" -> { (s, d) =>
      val NowMs = 1700000007000L
      val nullL = lit(null).cast("long")
      val l = graft.Tables.lineitem(s, d)
      val outbox = l.select(
        lit("outbox").as("queue"),
        lpad((col("l_orderkey") * 10 + col("l_linenumber")).cast("string"),
          12, "0").as("key"),
        (lit(1700000000000L) + col("l_orderkey") * 10 + col("l_linenumber"))
          .as("enqueued_ms"),
        nullL.as("due_at_ms"))
      val matq = graft.Tables.orders(s, d)
        .filter(col("o_orderkey") % 4 === 0)
        .select(
          lit("materialization").as("queue"),
          lpad(col("o_orderkey").cast("string"), 12, "0").as("key"),
          nullL.as("enqueued_ms"),
          (lit(1700000000000L) + col("o_orderkey")).as("due_at_ms"))
      val dead = graft.Tables.customer(s, d).select(
        lit("dead_letters").as("queue"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("key"),
        nullL.as("enqueued_ms"), nullL.as("due_at_ms"))
      QueueLag.snapshots(outbox.unionByName(matq).unionByName(dead), NowMs)
        .orderBy("queue")
    },

    // clock-skew classification (defer future, keep past — never drop)
    "ev1_clock_skew" -> { (s, d) =>
      ev(s, d)
        .withColumn("status", Projector.statusCol(col("occurred_at_ms"), NowMs))
        .groupBy(col("event_type"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("status"))
    },

    // idempotent replay: doubled stream dedups back to original counts
    "ev2_dedup_replay" -> { (s, d) =>
      val e = ev(s, d)
      Projector.dedupEvents(e.unionByName(e))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    },

    // glob-scoped watch delivery over the event stream
    "ev3_watch_delivery" -> { (s, d) =>
      val e = ev(s, d).withColumn("path",
        concat(lit("/users/"), (col("user_id") % 10).cast("string"),
          lit("/e"), col("event_id").cast("string")))
      val watches = s.createDataFrame(Seq(
        ("w1", "/users/3/**", 3), // created|uploaded under user 3
        ("w2", "/users/*/e5*", 15), // any kind, event ids starting with 5
        ("w3", "**", 8) // all sync-failures
      )).toDF("watch_id", "scope_glob", "kind_mask")
      Watch.deliveries(e, watches)
        .select(col("watch_id"), col("event_id"))
        .orderBy(col("watch_id"), col("event_id"))
    },

    // gap-based sessionization (8 h inactivity closes a session); the
    // events parquet stores ns-as-long timestamps -> integer div to micros
    "ev7_sessionize" -> { (s, d) =>
      Sessionize.sessionize(Projector.events(s, d), "user_id",
          expr("ts div 1000"), "event_id", "value", gapMicros = SessionGapUs)
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          col("duration_us"), col("total_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    },

    // as-of join: attach the latest prior signup event (point-in-time
    // dimension state) to every non-signup event — union+ordered-walk plan,
    // ONE shuffle, no range-join row explosion
    "ev8_asof_plan" -> { (s, d) =>
      val e = Projector.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("ts_us"))
      val dedupW = Window.partitionBy(col("user_id"), col("ts_us"))
        .orderBy(col("event_id").desc)
      val signups = e.filter(col("event_type") === "signup")
        .withColumn("rn", row_number().over(dedupW))
        .filter(col("rn") === 1).drop("rn")
      Sessionize.asofJoin(e.filter(col("event_type") =!= "signup"), signups,
          "user_id", "ts_us", "event_id")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof.event_id").as("signup_event"),
          col("asof.value").as("signup_value"))
        .orderBy(col("event_id"))
    },

    // ordered conversion funnel: signup -> click -> purchase within 7 days
    "ev9_funnel" -> { (s, d) =>
      EventAnalytics.funnel(Projector.events(s, d), "user_id",
          expr("ts div 1000"), "event_type",
          Seq("signup", "click", "purchase"), windowMicros = FunnelWindowUs)
        .orderBy(col("user_id"))
    },

    // per-user daily totals + trailing 7-day rolling sum (RANGE frame)
    "ev10_rolling" -> { (s, d) =>
      EventAnalytics.rollingDaily(Projector.events(s, d), "user_id",
          expr("ts div 1000"), "value", windowDays = RollWindowDays)
        .orderBy(col("user_id"), col("day"))
    },

    // SCD type-2 dimension history: the user's event_type stream collapses
    // to validity intervals (new row only on CHANGE, valid_to = next
    // change, exactly one open row per user) — the warehouse dimension
    // build every CDC pipeline ships; one keyed shuffle, both window
    // passes reuse it
    "ev17_scd2_history" -> { (s, d) =>
      EventAnalytics.scd2History(Projector.events(s, d), "user_id",
          "event_type", expr("ts div 1000"), "event_id")
        .orderBy(col("user_id"), col("valid_from"))
    },

    // per-key daily gap-fill with carry-forward: the dense day spine
    // (sequence over each user's active span) left-joins the sparse daily
    // totals and the last observed value carries across gaps — the
    // report-table densification every dashboard pipeline runs. One keyed
    // shuffle; the spine explode is map-side.
    "ev18_gapfill" -> { (s, d) =>
      val daily = Projector.events(s, d)
        .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
        .agg(graft.Tables.dsum(col("value")).as("active_value"))
      val spine = daily.groupBy("user_id")
        .agg(min("day").as("d_lo"), max("day").as("d_hi"))
        .select(col("user_id"),
          explode(sequence(col("d_lo"), col("d_hi"))).as("day"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("day_value",
          last(col("active_value"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("day"), col("day_value"),
          col("active_value").isNotNull.as("is_active"))
        .orderBy("user_id", "day")
    },

    // weekly cohort retention triangle
    "ev11_retention" -> { (s, d) =>
      EventAnalytics.retention(Projector.events(s, d), "user_id",
          expr("ts div 1000"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // the SAME as-of semantics on the native AsOfJoinExec operator (custom
    // LogicalPlan + Strategy + merge-scan SparkPlan via GraftExtensions);
    // ev8 answers it with the union+window composition — both must match
    // the one DuckDB ASOF oracle
    "ev13_asof_native" -> { (s, d) =>
      val e = Projector.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("ts_us"))
      val dedupW = Window.partitionBy(col("user_id"), col("ts_us"))
        .orderBy(col("event_id").desc)
      val signups = e.filter(col("event_type") === "signup")
        .withColumn("rn", row_number().over(dedupW))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val clicks = e.filter(col("event_type") =!= "signup")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      Sessionize.asofJoinNative(clicks, signups, "user_id", "ts_us", "event_id")
        .toDF("l_event", "l_user", "l_ts", "r_event", "r_user", "r_ts", "r_value")
        .select(col("l_event").as("event_id"), col("l_user").as("user_id"),
          col("l_ts").as("ts_us"), col("r_event").as("signup_event"),
          col("r_value").as("signup_value"))
        .orderBy(col("event_id"))
    },

    // batch twin of the stream-stream interval join: click -> purchase
    // attribution within 1 h, same key; equi-key + range condition plans
    // as a hash/sort-merge join on user_id with a post-filter — never a
    // cartesian range explosion
    "ev14_attribution" -> { (s, d) =>
      val e = Projector.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("click_us"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"),
          col("user_id").as("b_user_id"), col("ts_us").as("buy_us"))
      clicks.join(buys,
          col("user_id") === col("b_user_id") &&
            col("buy_us") >= col("click_us") &&
            col("buy_us") <= col("click_us") + AttributionLagUs)
        .select(col("user_id"), col("click_id"), col("buy_id"),
          (col("buy_us") - col("click_us")).as("lag_us"))
        .orderBy(col("click_id"), col("buy_id"))
    },

    // schema'd JSON parse of the props column (JsonToStructs — the typed
    // from_json path, not string plucking) + per-decile rollup
    "ev12_props_json" -> { (s, d) =>
      val propsSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))
      Projector.events(s, d)
        .select(col("value"),
          from_json(col("props"), propsSchema).getField("k").as("k"))
        .groupBy((col("k") % 10).as("k_decile"))
        .agg(count(lit(1)).as("n"),
          graft.Tables.dsum(col("value")).as("total_value"))
        .orderBy(col("k_decile"))
    },

    // 2 s debounce: latest snapshot per (user, 2s bucket)
    "ev4_debounce" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("bucket"))
        .orderBy(col("occurred_at_ms").desc, col("event_id").desc)
      ev(s, d)
        .withColumn("bucket", floor(col("occurred_at_ms") / 2000).cast("long"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("bucket"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // watermarked tumbling-window rollup (batch run of the streaming plan)
    "ev6_windowed_rollup" -> { (s, d) =>
      Windows.eventRollup(ev(s, d))
        .orderBy(col("window_start_ms"), col("event_type"))
    },

    // OR-set CRDT fold over a synthetic quad op-log: every doc adds
    // (tag,v0) by actor a1; docs %3==0 get a concurrent re-add by a2; docs
    // %2==0 get a remove that witnessed only a1's dot — so evens survive
    // iff the unwitnessed a2 add exists (add-wins); %5==0 adds an
    // untouched (status,ok) quad
    "cr1_orset_fold" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val g = concat(lit("graph:"), col("doc_id").cast("string"))
      val subj = concat(lit("doc:"), col("doc_id").cast("string"))
      def op(df: DataFrame, pred: String, obj: String, kind: String,
          actor: String, counter: org.apache.spark.sql.Column,
          witnessed: org.apache.spark.sql.Column): DataFrame =
        df.select(g.as("graph_iri"), subj.as("subject"), lit(pred).as("predicate"),
          lit(obj).as("obj"), lit(kind).as("op"), lit(actor).as("actor"),
          counter.cast("long").as("counter"), witnessed.as("witnessed"))
      val noClock = lit(null).cast("map<string,bigint>")
      val ops =
        op(docs, "tag", "v0", "add", "a1", col("doc_id") + 1, noClock)
          .unionByName(op(docs.filter(col("doc_id") % 3 === 0),
            "tag", "v0", "add", "a2", col("doc_id") + 1, noClock))
          .unionByName(op(docs.filter(col("doc_id") % 2 === 0),
            "tag", "v0", "remove", null, lit(null),
            map(lit("a1"), (col("doc_id") + 1).cast("bigint"))))
          .unionByName(op(docs.filter(col("doc_id") % 5 === 0),
            "status", "ok", "add", "a1", col("doc_id") + 100000, noClock))
      graft.crdt.OrSet.fold(ops).orderBy(col("subject"), col("predicate"))
    },

    // Watch-interest digest rebuild (notifications/watch/interest.rs): only
    // dirty-marker realms rebuild; locally-held + authorized subscriptions
    // merge per path prefix by mask-OR; r4 exercises the empty-digest +
    // unchanged-skip path, r2/r5 the generation-bumped marker retention
    "wi1_interest_digest" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val subs = o.filter(col("o_orderkey") % 7 =!= 4).select(
        concat(lit("r"), (col("o_orderkey") % 7).cast("string")).as("realm"),
        concat(lit("/p"), (col("o_orderkey") % 4).cast("string"))
          .as("path_prefix"),
        expr("CAST(shiftleft(1, CAST(o_orderkey % 4 AS INT)) AS BIGINT)")
          .as("event_mask"),
        when(col("o_orderkey") % 5 === 0, "other").otherwise("self")
          .as("owner_node"),
        when(col("o_orderkey") % 11 === 0, "denied")
          .when(col("o_orderkey") % 11 === 1, "unavailable")
          .otherwise("ok").as("authz"))
      val markers = s.range(0, 6).select(
        concat(lit("r"), col("id").cast("string")).as("realm"),
        col("id").as("gen_observed"),
        (col("id") + when(col("id") % 3 === 2, 1L).otherwise(0L))
          .as("gen_now"))
      val current = s.createDataFrame(Seq(("r0", "<stale>"), ("r4", "")))
        .toDF("realm", "digest_sig")
      val pending = s.createDataFrame(Seq(Tuple1("r3"))).toDF("realm")
      Interest.publish(subs, markers, current, pending, localNode = "self")
        .orderBy("realm", "path_prefix")
    },

    // Idempotent inbox upsert: stored keys skip, batch duplicates both
    // count, written + distinct-recipient trailers (the wake set)
    "ib1_inbox_upsert" -> { (s, d) =>
      val r = Tables.orders(s, d)
        .select((col("o_orderkey") % 90).cast("long").as("r")).distinct()
      val records = r.select(
        concat(lit("nt"), (col("r") % 60).cast("string"))
          .as("notification_id"),
        concat(lit("u"), (col("r") % 9).cast("string")).as("recipient"),
        (col("r") % 60 % 12 * 50 + 3000L).as("created_at_ms"))
      val existing = r.filter(col("r") % 4 === 1).select(
        concat(lit("nt"), (col("r") % 60).cast("string"))
          .as("notification_id"),
        concat(lit("u"), (col("r") % 9).cast("string")).as("recipient"),
        (col("r") % 60 % 12 * 50 + 3000L).as("created_at_ms"))
      Interest.upsertInbox(records, existing)
        .orderBy("notification_id", "recipient")
    },

    // Raw-revision resolution: timestamp-major base election (a replayed
    // older payload never wins), post-base upsert application, and the
    // incremental advance fold pinned ≡ the direct resolve
    "rv1_raw_revision" -> { (s, d) =>
      val ev = Tables.orders(s, d)
        .select(col("o_orderkey").cast("long").as("o")).distinct()
        .filter(col("o") < 1800)
        .select((col("o") % 36).as("doc_id"), col("o").as("event_id"),
          when((col("o") % 36) % 9 === 2 && (col("o") % 7).isin(0L, 1L),
            "scaffold")
            .when(col("o") % 7 === 0, "rocrate")
            .when(col("o") % 7 === 1, "replace")
            .when((col("o") % 7).isin(2L, 3L), "upsert_data")
            .when(col("o") % 7 === 4, "upsert_ctx")
            .otherwise("scaffold").as("kind"),
          (col("o") % 13 * 10 + 1000L).as("updated_at_ms"))
      val full = RawRevision.resolve(ev).withColumn("sect", lit("full"))
      val incr = RawRevision.fold(ev.filter(col("event_id") < 900),
        ev.filter(col("event_id") >= 900)).withColumn("sect", lit("incr"))
      full.unionByName(incr).orderBy("sect", "doc_id")
    },

    // Holder-side watch-event expansion: stale-owner skip, no retroactive
    // delivery, prefix vs group-alias path matching for data kinds,
    // mask gating and stage-time authorization suppression
    "we1_watch_expand" -> { (s, d) =>
      val ev = Tables.orders(s, d)
        .select((col("o_orderkey") % 30).cast("long").as("e")).distinct()
        .select(concat(lit("ev"), col("e").cast("string")).as("event_id"),
          concat(lit("r"), (col("e") % 2).cast("string")).as("realm"),
          expr("CAST(shiftleft(1, CAST(e % 4 AS INT)) AS BIGINT)")
            .as("kind_bit"),
          when(col("e") % 30 === 7, concat(
            lit("s3/00000000000000000000000000/n"),
            (col("e") % 3).cast("string"), lit("/bk"),
            (col("e") % 5).cast("string"), lit("/dir"),
            col("e").cast("string"), lit("/f.txt")))
            .when(col("e") % 3 === 0, concat(lit("meta/g"),
              (col("e") % 5).cast("string"), lit("/doc"),
              col("e").cast("string")))
            .otherwise(concat(lit("s3/G"), (col("e") % 4).cast("string"),
              lit("/n"), (col("e") % 3).cast("string"), lit("/bk"),
              (col("e") % 5).cast("string"), lit("/dir"),
              col("e").cast("string"), lit("/f.txt"))).as("path"),
          (col("e") % 5 * 100 + 800L).as("occurred_at_ms"))
      val subs = Tables.orders(s, d)
        .select((col("o_orderkey") % 24).cast("long").as("t")).distinct()
        .select(concat(lit("w"), col("t").cast("string")).as("watch_id"),
          concat(lit("r"), (col("t") % 2).cast("string")).as("realm"),
          concat(lit("u"), (col("t") % 7).cast("string")).as("owner"),
          when(col("t") % 4 === 0, concat(lit("meta/g"),
            (col("t") % 5).cast("string")))
            .when(col("t") % 4 === 1, concat(lit("s3/GX/n"),
              (col("t") % 3).cast("string"), lit("/bk"),
              (col("t") % 5).cast("string"), lit("/dir")))
            .when(col("t") % 4 === 2, concat(lit("s3/G"),
              (col("t") % 4).cast("string"), lit("/n0/bk1/x")))
            .otherwise(concat(lit("other/"), col("t").cast("string")))
            .as("path_prefix"),
          (col("t") % 15 + 1).as("event_mask"),
          (col("t") % 7 * 100 + 500L).as("created_at_ms"),
          (col("t") % 6 =!= 5).as("held"),
          (col("t") % 9 =!= 4).as("authz_ok"))
      Interest.routeWatchEvents(ev, subs)
        .orderBy("event_id", "watch_id")
    },

    // Watch-subscription create validation: field ladder (empty/leading-
    // slash/overlong prefix, empty/invalid mask), authorization binding,
    // then the 50-per-user cap at insert time
    "ws1_watch_sub_create" -> { (s, d) =>
      val q = Tables.orders(s, d)
        .select((col("o_orderkey") % 64).cast("long").as("q")).distinct()
      val reqs = q.select(
        concat(lit("r"), col("q").cast("string")).as("req_id"),
        concat(lit("u"), (col("q") % 6).cast("string")).as("owner"),
        when(col("q") % 9 === 0, "")
          .when(col("q") % 9 === 1, "/lead/x")
          .when(col("q") % 9 === 2, expr("repeat('p', 1025)"))
          .otherwise(concat(lit("s3/g"), col("q").cast("string")))
          .as("path_prefix"),
        when(col("q") % 7 === 0, 0L).when(col("q") % 7 === 1, 16L)
          .when(col("q") % 7 === 2, 19L)
          .otherwise(col("q") % 15 + 1).as("event_mask"),
        (col("q") % 11 =!= 5).as("authz_valid"))
      val existing = s.range(0, 6).select(
        concat(lit("u"), col("id").cast("string")).as("owner"),
        when(col("id") === 0, 50L).when(col("id") === 1, 49L)
          .when(col("id") === 3, 63L).otherwise(col("id") * 7)
          .as("n_subs"))
      Interest.validateSubscriptions(reqs, existing).orderBy("req_id")
    },

    // Admin-document MV-register fold (admin_document_reducer.rs): resolve a
    // causally-delivered admin event log to its per-(doc, path) causal
    // frontier — converged value + representative dot, or the dot-sorted
    // conflict candidate list. Clock entries are strictly-prior window
    // counts (causally consistent by construction) minus a deterministic
    // 0/1 hold-back that manufactures concurrent, mutually-unobserved edits
    "adr1_admin_reducer" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // the admin-document event log is CONTRACT-bounded per document
      // (human-scale admin ops), so the fixture pins the log to the
      // base-scale key range — replica keys (offset +10M per rep in the
      // scale dirs) fall out, keeping per-doc logs scale-invariant
      // instead of growing 10x per SF like a data-plane relation
      val o = Tables.orders(s, d).filter(col("o_orderkey") < 10000000L)
      val base = o.select(
        col("o_orderkey").cast("long").as("pos"),
        (col("o_custkey") % 8).cast("long").as("doc"),
        concat(lit("p"), (col("o_orderkey") % 5).cast("string")).as("path"),
        (col("o_orderkey") % 3).cast("int").as("oidx"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("v"), (col("o_orderkey") % 2).cast("string")))
          .as("value"))
      val wDoc = Window.partitionBy("doc").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wSeq = Window.partitionBy("doc", "oidx").orderBy("pos")
      def obs(j: Int) = greatest(lit(0L),
        coalesce(sum(when(col("oidx") === j, 1L)).over(wDoc), lit(0L)) -
          (col("pos") + j) % 7)
      val events = base
        .withColumn("seq", row_number().over(wSeq).cast("long"))
        .withColumn("obs0", obs(0))
        .withColumn("obs1", obs(1))
        .withColumn("obs2", obs(2))
      graft.crdt.AdminReducer.frontier(events).orderBy("doc", "path")
    },

    // registry projection: latest applicable event per user-document
    "ev5_projection" -> { (s, d) =>
      val (applicable, _) = Projector.partition(
        ev(s, d).withColumn("doc", (col("user_id") % 50).cast("long")),
        "occurred_at_ms", NowMs)
      Projector.projectRegistry(Projector.dedupEvents(applicable), "doc")
        .select(col("doc"), col("event_id"), col("event_type"), col("occurred_at_ms"))
        .orderBy(col("doc"))
    },

    // incremental FTS-postings projection: replay the mutation log in
    // time-ordered micro-batches over the batch-built index; oracle is the
    // batch rebuild over the mutated corpus (incremental ≡ batch)
    "ev15_inc_postings" -> { (s, d) =>
      val log = IncrementalIndex.mutationLog(ev(s, d), NowMs)
      // fold onto the materialized token-clustered index — same rows as a
      // fresh batch build, but the realistic starting state
      // plain (un-fanned) documents: the per-batch upsert join broadcast-
      // prunes into the scan; a fan-out exchange here would re-ship the
      // corpus once PER BATCH (measured ev15 +0.28 s — rejected)
      IncrementalIndex.foldPostings(Tables.documents(s, d), log,
          initial = Some(graft.Store.postings(s, d)))
        .orderBy(col("token"), col("graph_iri"), col("subject_iri"), col("field"))
    },

    // incremental IRI backlink-index projection, same replay contract
    "ev16_inc_iri" -> { (s, d) =>
      val log = IncrementalIndex.mutationLog(ev(s, d), NowMs)
      IncrementalIndex.foldIriIndex(Tables.documents(s, d), log,
          initial = Some(graft.Store.iriIndex(s, d)))
        .orderBy(col("predicate_iri"), col("object_iri"), col("graph_iri"))
    },

    // production-path convergence probe (metadata_throughput.rs:190-237):
    // every admitted event is a distinct document CREATE driven through
    // the full projection chain — clock-skew admission → idempotent dedup
    // → registry projection → one materialization job per create drained
    // through the real queue ladder → FTS-postings materialization of the
    // created documents. Converged = every create registered +
    // materialized and ZERO jobs remain (n_remaining). The gate's wall
    // time / n_creates is the pipeline's docs/s — the analog of the
    // baseline's >=1000 ops/s create throughput and <=15 s drain gates
    // (BENCH_NOTES carries the measured table).
    "pp2_production_path" -> { (s, d) =>
      // whole-log traversal with heavy per-event work: fanned reader
      // (2.30→0.96 s measured; see Projector.eventsFanned)
      val events = Projector.eventsFanned(s, d)
      val (applicable, deferredDf) =
        Projector.partition(events, "occurred_at_ms", NowMs)
      // `creates` fans out into SEVEN consumers (registry, jobs, evRel, the
      // drain join, docsShaped→postings, nc, np) — without a persist each
      // one re-runs the events scan + the dedup shuffle (guide §5 "reused
      // AND recomputing is more expensive"; registered with graft.Caches
      // like every gate-local cache)
      val creates = Projector.dedupEvents(applicable)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("occurred_at_ms"))
        .withColumn("doc", col("event_id"))
        .persist()
      graft.Caches.track(creates)
      val registry = Projector.projectRegistry(creates, "doc")
      val jobs = creates.select(col("event_id").as("doc_id"),
        col("event_id"), lit(0L).as("due_at_ms"), lit(0L).as("attempts"),
        lit(0L).as("failures"), lit(0L).as("parks"))
      val evRel = creates.select(col("event_id").as("doc_id"),
        col("event_id"),
        concat(lit("graph:"), col("event_id").cast("string")).as("graph_iri"),
        lit("").as("peers"), lit("ok").as("apply_outcome"))
      val noStatus = jobs.limit(0).select(col("doc_id"), col("event_id"),
        col("attempts"), lit("pending").as("state"))
      val noLifecycle = evRel.limit(0).select(col("graph_iri"),
        lit(false).as("deleted"))
      val noDl = jobs.limit(0).select(col("doc_id"), col("event_id"),
        col("parks"))
      val drained = graft.catalog.MaterializationQueue.drain(
        jobs, noStatus, evRel, noLifecycle, noDl, NowMs)
        .join(creates.select(col("event_id"), col("event_type")), "event_id")
      // the created documents, materialized into the FTS postings index
      // through the SAME derivation the batch build uses
      val docsShaped = creates.select(col("doc").as("doc_id"),
        col("event_type").as("source"),
        concat(col("event_type"), lit(" payload "),
          (col("user_id") % 97).cast("string")).as("text"),
        lit("en").as("lang"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val postings = graft.fts.Fts.postings(
        graft.sparql.RdfTables.quadsOfDocs(docsShaped))
      val src = col("event_type").as("source")
      val nc = creates.groupBy(src).agg(count(lit(1)).as("n_creates"))
      val nd = deferredDf.groupBy(src).agg(count(lit(1)).as("n_deferred"))
      val nr = registry.groupBy(src).agg(count(lit(1)).as("n_registry"))
      val nm = drained.groupBy(src).agg(
        sum(when(col("verdict") === "materialized", 1L).otherwise(0L))
          .as("n_materialized"),
        sum(when(!col("job_deleted"), 1L).otherwise(0L)).as("n_remaining"))
      val np = postings
        .withColumn("doc_id", expr("CAST(substring(graph_iri, 7) AS BIGINT)"))
        .join(docsShaped.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_postings"))
      nc.join(nd, Seq("source"), "left_outer")
        .join(nr, Seq("source")).join(nm, Seq("source"))
        .join(np, Seq("source"))
        .select(col("source"), col("n_creates"),
          coalesce(col("n_deferred"), lit(0L)).as("n_deferred"),
          col("n_registry"), col("n_materialized"), col("n_remaining"),
          col("n_postings"))
        .orderBy(col("source"))
    }
  )

  private val evCte =
    "ev AS (SELECT *, epoch_ms(ts) AS occurred_at_ms FROM events)"

  /** Shared by ev15/ev16: the corpus after applying the mutation log's
    * final per-doc outcome (the batch-rebuild side of incremental ≡ batch).
    * Must mirror [[IncrementalIndex.mutationLog]]'s admission + versioning
    * exactly. */
  private val mutatedDocsCte =
    s"""last AS (
       |  SELECT doc, event_id, is_del FROM (
       |    SELECT user_id%50 AS doc, event_id, event_type='purchase' AS is_del,
       |           ROW_NUMBER() OVER (PARTITION BY user_id%50
       |                              ORDER BY occurred_at_ms DESC, event_id DESC) AS rn
       |    FROM ev WHERE occurred_at_ms <= $NowMs + 300000) t
       |  WHERE rn = 1),
       |docs2 AS (
       |  SELECT d.doc_id, d.source,
       |         CASE WHEN l.doc IS NOT NULL THEN d.text||' v'||l.event_id
       |              ELSE d.text END AS text,
       |         d.lang, d.n_chars
       |  FROM documents d LEFT JOIN last l ON d.doc_id = l.doc
       |  WHERE l.doc IS NULL OR NOT l.is_del)""".stripMargin

  val oracles: Map[String, String] = Map(
    // queue lag: same bounded rank window + conditional age/due aggregates
    "ql1_queue_lag" ->
      """WITH q AS (
        |  SELECT 'outbox' AS queue,
        |         lpad(CAST(l_orderkey*10 + l_linenumber AS VARCHAR), 12, '0') AS key,
        |         1700000000000 + l_orderkey*10 + l_linenumber AS enqueued_ms,
        |         CAST(NULL AS BIGINT) AS due_at_ms
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'materialization', lpad(CAST(o_orderkey AS VARCHAR), 12, '0'),
        |         NULL, 1700000000000 + o_orderkey
        |  FROM orders WHERE o_orderkey%4=0
        |  UNION ALL
        |  SELECT 'dead_letters', lpad(CAST(c_custkey AS VARCHAR), 12, '0'),
        |         NULL, NULL
        |  FROM customer),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY queue ORDER BY key) AS rn,
        |        COUNT(*) OVER (PARTITION BY queue) AS total
        |      FROM q),
        |s AS (SELECT * FROM r WHERE rn <= 8192)
        |SELECT queue, COUNT(*) AS depth, MAX(total) > 8192 AS depth_capped,
        |  COALESCE(1700000007000 - MIN(enqueued_ms),
        |           1700000007000 - MIN(CASE WHEN due_at_ms <= 1700000007000
        |                                    THEN due_at_ms END),
        |           0) AS oldest_age_ms,
        |  COUNT(CASE WHEN due_at_ms <= 1700000007000 THEN 1 END) AS due
        |FROM s GROUP BY queue ORDER BY queue""".stripMargin,

    "ev1_clock_skew" ->
      s"""WITH $evCte
         |SELECT event_type,
         |  CASE WHEN occurred_at_ms > $NowMs + 300000 THEN 'deferred' ELSE 'applied' END AS status,
         |  COUNT(*) AS n
         |FROM ev GROUP BY 1, 2 ORDER BY event_type, status""".stripMargin,

    "ev2_dedup_replay" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev3_watch_delivery" ->
      """SELECT watch_id, event_id FROM (
        |  SELECT 'w1' AS watch_id, event_id FROM events
        |  WHERE user_id%10 = 3 AND event_type IN ('signup','click','purchase')
        |  UNION ALL
        |  SELECT 'w2', event_id FROM events
        |  WHERE CAST(event_id AS VARCHAR) LIKE '5%'
        |  UNION ALL
        |  SELECT 'w3', event_id FROM events WHERE event_type = 'error'
        |) t ORDER BY watch_id, event_id""".stripMargin,

    // sessionization as gaps-and-islands: new-session flag -> running sum
    // -> per-(user, session) aggregate; integer micros end to end
    "ev7_sessionize" ->
      s"""SELECT user_id, MIN(tus) AS session_start_us, COUNT(*) AS n_events,
        |  MAX(tus) - MIN(tus) AS duration_us,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sess_n
        |  FROM (
        |    SELECT *,
        |      CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
        |             OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |                > $SessionGapUs THEN 1 ELSE 0 END AS new_s
        |    FROM (SELECT *, epoch_us(ts) AS tus FROM events) e) m) s
        |GROUP BY user_id, sess_n
        |ORDER BY user_id, session_start_us""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the union+walk plan;
    // right side deduped to one row per (user, ts) exactly like the gate
    "ev8_asof_plan" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events),
        |su AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts_us
        |                                 ORDER BY event_id DESC) AS rn
        |    FROM e WHERE event_type = 'signup') t
        |  WHERE rn = 1),
        |cl AS (SELECT * FROM e WHERE event_type <> 'signup')
        |SELECT cl.event_id, cl.user_id, cl.ts_us,
        |       su.event_id AS signup_event, su.value AS signup_value
        |FROM cl ASOF LEFT JOIN su
        |  ON cl.user_id = su.user_id AND cl.ts_us >= su.ts_us
        |ORDER BY cl.event_id""".stripMargin,

    // chained window CTEs: each step's MIN(CASE) reads the previous step's
    // per-user constant — identical structure to the Spark plan
    "ev9_funnel" ->
      s"""WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |s0 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN tus END)
        |         OVER (PARTITION BY user_id) AS t0 FROM e),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND tus > t0
        |           AND tus <= t0 + $FunnelWindowUs THEN tus END)
        |         OVER (PARTITION BY user_id) AS t1 FROM s0),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tus > t1
        |           AND tus <= t0 + $FunnelWindowUs THEN tus END)
        |         OVER (PARTITION BY user_id) AS t2 FROM s1)
        |SELECT user_id, MAX(t0) AS ts_signup, MAX(t1) AS ts_click,
        |  MAX(t2) AS ts_purchase
        |FROM s2 GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev10_rolling" ->
      s"""SELECT user_id, day, day_value, n_events,
        |  CAST(SUM(CAST(day_value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_value,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_days_active
        |FROM (
        |  SELECT user_id, tus // 86400000000 AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS day_value,
        |    COUNT(*) AS n_events
        |  FROM (SELECT *, epoch_us(ts) AS tus FROM events) e
        |  GROUP BY user_id, tus // 86400000000) d
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             RANGE BETWEEN ${RollWindowDays - 1} PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin,

    "ev18_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |      AS active_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(day) AS d_lo, MAX(day) AS d_hi
        |          FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, UNNEST(generate_series(d_lo, d_hi)) AS day
        |          FROM spans)
        |SELECT s.user_id, s.day,
        |  last_value(d.active_value IGNORE NULLS) OVER
        |    (PARTITION BY s.user_id ORDER BY s.day ROWS UNBOUNDED PRECEDING)
        |    AS day_value,
        |  (d.active_value IS NOT NULL) AS is_active
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,

    "ev17_scd2_history" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |           FROM events),
        |m AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY tus, event_id) AS prev_attr
        |      FROM e),
        |c AS (SELECT * FROM m
        |      WHERE prev_attr IS NULL OR prev_attr <> event_type)
        |SELECT user_id, event_type, tus AS valid_from,
        |  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |    AS valid_to,
        |  (lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |     IS NULL) AS is_current
        |FROM c ORDER BY user_id, valid_from""".stripMargin,

    "ev11_retention" ->
      """SELECT cohort_week, week - cohort_week AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_entities
        |FROM (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events) a
        |JOIN (
        |  SELECT user_id, MIN(epoch_us(ts) // 604800000000) AS cohort_week
        |  FROM events GROUP BY user_id) c USING (user_id)
        |GROUP BY cohort_week, week - cohort_week
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "ev14_attribution" ->
      s"""WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events)
        |SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
        |  b.ts_us - c.ts_us AS lag_us
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |JOIN (SELECT * FROM e WHERE event_type = 'purchase') b
        |  ON c.user_id = b.user_id
        | AND b.ts_us >= c.ts_us AND b.ts_us <= c.ts_us + $AttributionLagUs
        |ORDER BY click_id, buy_id""".stripMargin,

    // identical contract to ev8: one oracle, two implementations under test
    "ev13_asof_native" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events),
        |su AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts_us
        |                                 ORDER BY event_id DESC) AS rn
        |    FROM e WHERE event_type = 'signup') t
        |  WHERE rn = 1),
        |cl AS (SELECT * FROM e WHERE event_type <> 'signup')
        |SELECT cl.event_id, cl.user_id, cl.ts_us,
        |       su.event_id AS signup_event, su.value AS signup_value
        |FROM cl ASOF LEFT JOIN su
        |  ON cl.user_id = su.user_id AND cl.ts_us >= su.ts_us
        |ORDER BY cl.event_id""".stripMargin,

    "ev12_props_json" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_decile,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY CAST(json_extract(props, '$.k') AS BIGINT) % 10
        |ORDER BY k_decile""".stripMargin,

    "ev4_debounce" ->
      """SELECT user_id, occurred_at_ms // 2000 AS bucket, event_id, value FROM (
        |  SELECT *, epoch_ms(ts) AS occurred_at_ms FROM events) e
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, occurred_at_ms // 2000
        |                           ORDER BY occurred_at_ms DESC, event_id DESC) = 1
        |ORDER BY user_id, bucket""".stripMargin,

    "ev6_windowed_rollup" ->
      s"""WITH $evCte
         |SELECT (occurred_at_ms // 10000) * 10000 AS window_start_ms, event_type,
         |  COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
         |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // present iff some add-dot is uncovered: odds keep a1's dot (no remove),
    // evens only survive via a2's concurrent re-add (%3==0)
    "cr1_orset_fold" ->
      """SELECT * FROM (
        |  SELECT 'graph:'||doc_id AS graph_iri, 'doc:'||doc_id AS subject,
        |         'tag' AS predicate, 'v0' AS obj
        |  FROM documents WHERE doc_id%2=1 OR doc_id%3=0
        |  UNION ALL
        |  SELECT 'graph:'||doc_id, 'doc:'||doc_id, 'status', 'ok'
        |  FROM documents WHERE doc_id%5=0
        |) t ORDER BY subject, predicate""".stripMargin,

    "ib1_inbox_upsert" ->
      """WITH rs AS (SELECT DISTINCT CAST(o_orderkey % 90 AS BIGINT) AS r
        |            FROM orders),
        |rec AS (SELECT 'nt'||(r%60) AS notification_id,
        |        'u'||(r%9) AS recipient,
        |        (r%60)%12*50 + 3000 AS created_at_ms, r FROM rs),
        |ex AS (SELECT notification_id, recipient, created_at_ms
        |       FROM rec WHERE r%4 = 1),
        |m AS (SELECT rec.notification_id, rec.recipient,
        |        e.notification_id IS NULL AS inserted
        |      FROM rec LEFT JOIN ex e
        |        ON rec.notification_id = e.notification_id
        |        AND rec.recipient = e.recipient
        |        AND rec.created_at_ms = e.created_at_ms),
        |t AS (SELECT CAST(SUM(CASE WHEN inserted THEN 1 ELSE 0 END)
        |        AS BIGINT) AS n_written,
        |      CAST(COUNT(DISTINCT CASE WHEN inserted THEN recipient END)
        |        AS BIGINT) AS n_recipients FROM m)
        |SELECT notification_id, recipient, inserted, n_written,
        |       n_recipients
        |FROM m, t ORDER BY notification_id, recipient""".stripMargin,

    "rv1_raw_revision" ->
      """WITH ev AS (
        |  SELECT CAST(o % 36 AS BIGINT) AS doc_id,
        |         CAST(o AS BIGINT) AS event_id,
        |    CASE WHEN (o%36)%9 = 2 AND o%7 IN (0,1) THEN 'scaffold'
        |         WHEN o%7 = 0 THEN 'rocrate'
        |         WHEN o%7 = 1 THEN 'replace'
        |         WHEN o%7 IN (2,3) THEN 'upsert_data'
        |         WHEN o%7 = 4 THEN 'upsert_ctx'
        |         ELSE 'scaffold' END AS kind,
        |    o%13*10 + 1000 AS updated_at_ms
        |  FROM (SELECT DISTINCT o_orderkey AS o FROM orders
        |        WHERE o_orderkey < 1800)),
        |b AS (SELECT doc_id, event_id AS base_ev,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY updated_at_ms DESC, event_id DESC) AS rn
        |      FROM ev WHERE kind IN ('rocrate','replace')),
        |base AS (SELECT doc_id, base_ev FROM b WHERE rn = 1),
        |up AS (SELECT e.doc_id, COUNT(*) AS n_app,
        |              MAX(e.event_id) AS max_up
        |       FROM ev e JOIN base USING (doc_id)
        |       WHERE e.kind IN ('upsert_data','upsert_ctx')
        |         AND e.event_id > base_ev
        |       GROUP BY 1),
        |f AS (SELECT d.doc_id, base.base_ev AS base_event_id,
        |   CASE WHEN base.base_ev IS NOT NULL
        |        THEN COALESCE(up.max_up, base.base_ev) END
        |     AS winning_event_id,
        |   CAST(COALESCE(up.n_app, 0) AS BIGINT) AS n_applied,
        |   d.last_event_id
        | FROM (SELECT doc_id, MAX(event_id) AS last_event_id FROM ev
        |       GROUP BY 1) d
        | LEFT JOIN base USING (doc_id) LEFT JOIN up USING (doc_id))
        |-- the incremental advance over an ordered split is exactly the
        |-- direct resolve; the gate's Spark side computes it as a FOLD
        |SELECT *, 'full' AS sect FROM f
        |UNION ALL SELECT *, 'incr' FROM f
        |ORDER BY sect, doc_id""".stripMargin,

    "we1_watch_expand" ->
      """WITH eseq AS (SELECT DISTINCT CAST(o_orderkey % 30 AS BIGINT) AS e
        |              FROM orders),
        |tseq AS (SELECT DISTINCT CAST(o_orderkey % 24 AS BIGINT) AS t
        |         FROM orders),
        |ev AS (SELECT 'ev'||e AS event_id, 'r'||(e%2) AS realm,
        |  CAST(1 << CAST(e%4 AS INT) AS BIGINT) AS kind_bit,
        |  CASE WHEN e%30 = 7 THEN 's3/00000000000000000000000000/n'||
        |         (e%3)||'/bk'||(e%5)||'/dir'||e||'/f.txt'
        |       WHEN e%3 = 0 THEN 'meta/g'||(e%5)||'/doc'||e
        |       ELSE 's3/G'||(e%4)||'/n'||(e%3)||'/bk'||(e%5)||'/dir'||e||
        |         '/f.txt' END AS path,
        |  e%5*100 + 800 AS occurred_at_ms FROM eseq),
        |sub AS (SELECT 'w'||t AS watch_id, 'r'||(t%2) AS realm,
        |  'u'||(t%7) AS owner,
        |  CASE WHEN t%4 = 0 THEN 'meta/g'||(t%5)
        |       WHEN t%4 = 1 THEN 's3/GX/n'||(t%3)||'/bk'||(t%5)||'/dir'
        |       WHEN t%4 = 2 THEN 's3/G'||(t%4)||'/n0/bk1/x'
        |       ELSE 'other/'||t END AS path_prefix,
        |  t%15 + 1 AS event_mask, t%7*100 + 500 AS created_at_ms,
        |  t%6 <> 5 AS held, t%9 <> 4 AS authz_ok FROM tseq),
        |p AS (SELECT * FROM ev JOIN sub USING (realm)),
        |p2 AS (SELECT *,
        |  starts_with(path, path_prefix) OR (
        |    kind_bit IN (2, 4, 8)
        |    AND regexp_matches(path, '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$')
        |    AND regexp_matches(path_prefix,
        |      '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$')
        |    AND regexp_extract(path, '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$',
        |      1) <> '00000000000000000000000000'
        |    AND regexp_extract(path_prefix,
        |      '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$', 1)
        |      <> '00000000000000000000000000'
        |    AND regexp_extract(path, '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$',
        |      2) = regexp_extract(path_prefix,
        |      '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$', 2)
        |    AND regexp_extract(path, '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$',
        |      3) = regexp_extract(path_prefix,
        |      '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$', 3)
        |    AND starts_with(
        |      regexp_extract(path, '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$', 4),
        |      regexp_extract(path_prefix,
        |        '^s3/([^/]+)/([^/]+)/([^/]+)/(.*)$', 4))
        |  ) AS path_ok FROM p),
        |p3 AS (SELECT *,
        |  CASE WHEN NOT held THEN 'not_held'
        |       WHEN created_at_ms > occurred_at_ms
        |         THEN 'created_after_event'
        |       WHEN NOT path_ok THEN 'path_mismatch'
        |       WHEN (event_mask & kind_bit) = 0 THEN 'mask_mismatch'
        |       WHEN NOT authz_ok THEN 'denied'
        |       ELSE 'delivered' END AS verdict
        |  FROM p2)
        |SELECT event_id, watch_id, verdict,
        |  CASE WHEN verdict = 'delivered' THEN owner END AS recipient
        |FROM p3 ORDER BY event_id, watch_id""".stripMargin,

    "ws1_watch_sub_create" ->
      """WITH qseq AS (SELECT DISTINCT CAST(o_orderkey % 64 AS BIGINT) AS q
        |              FROM orders),
        |req AS (SELECT 'r'||q AS req_id, 'u'||(q%6) AS owner,
        |  CASE WHEN q%9=0 THEN '' WHEN q%9=1 THEN '/lead/x'
        |       WHEN q%9=2 THEN repeat('p', 1025)
        |       ELSE 's3/g'||q END AS path_prefix,
        |  CASE WHEN q%7=0 THEN 0 WHEN q%7=1 THEN 16 WHEN q%7=2 THEN 19
        |       ELSE q%15 + 1 END AS event_mask,
        |  q%11 <> 5 AS authz_valid FROM qseq),
        |ex AS (SELECT 'u'||k AS owner,
        |  CASE WHEN k=0 THEN 50 WHEN k=1 THEN 49 WHEN k=3 THEN 63
        |       ELSE k*7 END AS n_subs FROM range(0,6) t(k))
        |SELECT req_id,
        |  CASE WHEN path_prefix = '' THEN 'empty_prefix'
        |       WHEN starts_with(path_prefix, '/') THEN 'leading_slash'
        |       WHEN length(path_prefix) > 1024 THEN 'prefix_too_long'
        |       WHEN event_mask = 0 THEN 'empty_mask'
        |       WHEN (event_mask & ~15) <> 0 THEN 'invalid_mask'
        |       WHEN NOT authz_valid THEN 'unauthorized'
        |       WHEN COALESCE(n_subs, 0) >= 50 THEN 'cap_exceeded'
        |       ELSE 'created' END AS verdict
        |FROM req LEFT JOIN ex USING (owner)
        |ORDER BY req_id""".stripMargin,

    "wi1_interest_digest" ->
      """WITH subs AS (
        |  SELECT 'r'||(o_orderkey%7) AS realm,
        |    '/p'||(o_orderkey%4) AS path_prefix,
        |    CAST(1<<(o_orderkey%4) AS BIGINT) AS event_mask,
        |    CASE WHEN o_orderkey%5=0 THEN 'other' ELSE 'self' END AS owner_node,
        |    CASE o_orderkey%11 WHEN 0 THEN 'denied' WHEN 1 THEN 'unavailable'
        |      ELSE 'ok' END AS authz
        |  FROM orders WHERE o_orderkey%7 <> 4),
        |markers AS (
        |  SELECT 'r'||k AS realm, CAST(k AS BIGINT) AS gen_observed,
        |    CAST(k + CASE WHEN k%3=2 THEN 1 ELSE 0 END AS BIGINT) AS gen_now
        |  FROM range(0,6) t(k)),
        |cur AS (SELECT * FROM (VALUES ('r0','<stale>'), ('r4',''))
        |        t(realm, digest_sig)),
        |pend AS (SELECT 'r3' AS realm),
        |entries AS (
        |  SELECT realm, path_prefix,
        |         CAST(bit_or(event_mask) AS BIGINT) AS event_mask
        |  FROM subs WHERE owner_node='self' AND authz='ok'
        |  GROUP BY realm, path_prefix),
        |flags AS (
        |  SELECT realm,
        |    coalesce(MAX(owner_node='self' AND authz='unavailable'), false)
        |      AS check_failed,
        |    CAST(coalesce(SUM(CASE WHEN owner_node<>'self'
        |      OR authz IN ('denied','unavailable') THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_dropped
        |  FROM subs GROUP BY realm),
        |sig AS (SELECT realm, string_agg(path_prefix||':'||event_mask, ','
        |          ORDER BY path_prefix) AS new_sig
        |        FROM entries GROUP BY realm),
        |cleared AS (SELECT realm, CAST(SUM(CASE WHEN gen_observed=gen_now
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cleared
        |  FROM markers GROUP BY realm),
        |rs AS (
        |  SELECT d.realm,
        |    coalesce(s.new_sig,'') <> coalesce(c.digest_sig,'<absent>')
        |      AS changed,
        |    p.realm IS NOT NULL AS has_pending,
        |    coalesce(f.check_failed, false) AS check_failed,
        |    coalesce(f.n_dropped, 0) AS n_dropped,
        |    coalesce(cl.n_cleared, 0) AS n_cleared
        |  FROM (SELECT DISTINCT realm FROM markers) d
        |  LEFT JOIN sig s USING (realm) LEFT JOIN cur c USING (realm)
        |  LEFT JOIN pend p USING (realm) LEFT JOIN flags f USING (realm)
        |  LEFT JOIN cleared cl USING (realm))
        |SELECT r.realm, e.path_prefix,
        |  coalesce(e.event_mask, 0) AS event_mask,
        |  (changed OR has_pending) AS published, check_failed, n_dropped,
        |  n_cleared
        |FROM rs r LEFT JOIN entries e USING (realm)
        |ORDER BY realm, path_prefix""".stripMargin,

    // frontier = events no other same-path event observes (dominance
    // NOT EXISTS); converged when the frontier holds one distinct value
    "adr1_admin_reducer" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS pos,
        |         CAST(o_custkey % 8 AS BIGINT) AS doc,
        |         'p' || CAST(o_orderkey % 5 AS VARCHAR) AS path,
        |         CAST(o_orderkey % 3 AS INT) AS oidx,
        |         CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |              ELSE 'v' || CAST(o_orderkey % 2 AS VARCHAR) END AS value
        |  FROM orders WHERE o_orderkey < 10000000),
        |ev AS (
        |  SELECT *,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc, oidx ORDER BY pos)
        |         AS BIGINT) AS seq,
        |    GREATEST(0, CAST(coalesce(SUM(CASE WHEN oidx=0 THEN 1 END) OVER w,
        |      0) AS BIGINT) - (pos + 0) % 7) AS obs0,
        |    GREATEST(0, CAST(coalesce(SUM(CASE WHEN oidx=1 THEN 1 END) OVER w,
        |      0) AS BIGINT) - (pos + 1) % 7) AS obs1,
        |    GREATEST(0, CAST(coalesce(SUM(CASE WHEN oidx=2 THEN 1 END) OVER w,
        |      0) AS BIGINT) - (pos + 2) % 7) AS obs2
        |  FROM base
        |  WINDOW w AS (PARTITION BY doc ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |surv AS (
        |  SELECT e1.* FROM ev e1
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM ev e2
        |    WHERE e2.doc = e1.doc AND e2.path = e1.path AND e2.pos <> e1.pos
        |      AND ((CASE e1.oidx WHEN 0 THEN e2.obs0 WHEN 1 THEN e2.obs1
        |            ELSE e2.obs2 END) >= e1.seq
        |           OR (e2.oidx = e1.oidx AND e2.seq > e1.seq))))
        |SELECT doc, path,
        |  COUNT(DISTINCT coalesce(value,'<removed>')) > 1 AS conflicted,
        |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CASE WHEN COUNT(DISTINCT coalesce(value,'<removed>')) = 1
        |       THEN MAX(value) END AS value,
        |  CASE WHEN COUNT(DISTINCT coalesce(value,'<removed>')) = 1
        |       THEN CAST(MIN(pos) AS BIGINT) END AS rep_pos,
        |  CASE WHEN COUNT(DISTINCT coalesce(value,'<removed>')) > 1
        |       THEN string_agg(CAST(pos AS VARCHAR)||':'||CAST(oidx AS VARCHAR)
        |         ||':'||CAST(seq AS VARCHAR)||':'||coalesce(value,'<removed>'),
        |         ',' ORDER BY pos) END AS candidates
        |FROM surv GROUP BY doc, path ORDER BY doc, path""".stripMargin,

    "ev5_projection" ->
      s"""WITH $evCte
         |SELECT user_id%50 AS doc, event_id, event_type, occurred_at_ms FROM ev
         |WHERE occurred_at_ms <= $NowMs + 300000
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id%50
         |                           ORDER BY occurred_at_ms DESC, event_id DESC) = 1
         |ORDER BY doc""".stripMargin,

    "ev15_inc_postings" ->
      s"""WITH $evCte,
         |$mutatedDocsCte,
         |${graft.fts.Fts.postingsCteFrom("docs2")}
         |SELECT token, graph_iri, subject_iri, field, tf FROM postings
         |ORDER BY token, graph_iri, subject_iri, field""".stripMargin,

    "ev16_inc_iri" ->
      s"""WITH $evCte,
         |$mutatedDocsCte,
         |${graft.sparql.RdfTables.quadsCteFrom("docs2")}
         |SELECT predicate AS predicate_iri, obj_value AS object_iri, graph_iri,
         |       string_agg(DISTINCT subject, ',') AS subjects
         |FROM quads WHERE obj_kind = 0
         |GROUP BY 1, 2, 3
         |ORDER BY predicate_iri, object_iri, graph_iri""".stripMargin,

    // every admitted event is its own document and every apply is ok, so
    // registry = materialized = creates and zero jobs remain — the
    // convergence invariant; the postings count is a genuine replay of
    // the per-create index materialization
    "pp2_production_path" ->
      s"""WITH $evCte,
         |-- one row per admitted event_id, mirroring Projector.dedupEvents.
         |-- Scope: valid for IDENTICAL replayed rows (the replay shape the
         |-- event log produces); dropDuplicates keeps an arbitrary row, so
         |-- replays that DIFFER in event_type/user_id are undecidable for
         |-- any deterministic oracle
         |adm AS (SELECT event_id, event_type, user_id FROM ev
         |        WHERE occurred_at_ms <= $NowMs + 300000
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id
         |                                   ORDER BY occurred_at_ms) = 1),
         |def AS (SELECT event_type AS source, count(*) AS n_deferred
         |        FROM ev WHERE occurred_at_ms > $NowMs + 300000 GROUP BY 1),
         |docs2 AS (SELECT event_id AS doc_id, event_type AS source,
         |  event_type||' payload '||(user_id%97) AS text, 'en' AS lang,
         |  length(event_type||' payload '||(user_id%97)) AS n_chars
         |  FROM adm),
         |${graft.fts.Fts.postingsCteFrom("docs2")},
         |np AS (SELECT d.source, count(*) AS n_postings FROM postings p
         |       JOIN docs2 d ON p.graph_iri = 'graph:'||d.doc_id GROUP BY 1),
         |nc AS (SELECT event_type AS source, count(*) AS n_creates
         |       FROM adm GROUP BY 1)
         |SELECT nc.source, nc.n_creates,
         |  COALESCE(def.n_deferred, 0) AS n_deferred,
         |  nc.n_creates AS n_registry,
         |  nc.n_creates AS n_materialized,
         |  CAST(0 AS BIGINT) AS n_remaining,
         |  np.n_postings
         |FROM nc LEFT JOIN def USING (source) JOIN np USING (source)
         |ORDER BY source""".stripMargin
  )
}
