package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DirectorySpec extends SparkSpec {
  import spark.implicits._

  private lazy val users = Seq(
    ("realm-0", "001", "alice", "0000-1", "inst", "bio", "a@x.org"),
    ("realm-0", "002", "bob", null, null, null, "b@x.org"),
    ("realm-1", "003", "eve", "0000-3", null, null, "e@x.org")
  ).toDF("realm", "user_id", "name", "orcid", "affiliation", "department", "email")

  test("resolve users: dedup, unknown drop, foreign-realm drop, email never " +
    "leaks (resolve_users.rs; user_update_validation.rs:7-10)") {
    val reqs = Seq("001", "001", "003", "999").toDF("user_id")
    val out = Directory.resolveUsers(users, reqs, "realm-0")
    assert(!out.columns.contains("email"))
    val rows = out.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("001")) // dedup + drops
    assert(rows.head.getString(1) == "alice")
  }

  test("attribute validation ladder: first failing key decides, count cap " +
    "fires only on clean batches (user_update_validation.rs:22-52)") {
    val attrs = (Seq(
      ("u1", "orcid", "ok"),
      ("u1", "bad key", "x"),     // invalid key, sorts first
      ("u1", "zz", "a\nb"),       // invalid value, later key
      ("u2", "k", "a".*(4097)),   // oversize value
      ("u3", "k".*(129), "x"),    // oversize key
      ("u4", "edu_person:principal_name", "fine")
    ) ++ (0 until 130).map(i => ("u5", f"f$i%03d", "x")))
      .toDF("user_id", "key", "value")
    val m = Directory.validateAttrs(attrs).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(m("u1") == "invalid_key:bad key")
    assert(m("u2") == "invalid_value:k")
    assert(m("u3") == "invalid_key:" + "k" * 129)
    assert(m("u4") == "ok")
    assert(m("u5") == "too_many_attributes")
  }

  test("list users: limit clamp to 1, limit+1 probe, strictly-after cursor " +
    "(list_users.rs:66-183)") {
    val p = Directory.listUsers(users, "realm-0", 0).collect() // clamp -> 1
    assert(p.length == 1 && p.head.getAs[Boolean]("is_truncated") &&
      p.head.getAs[String]("next_start_after") == "001")
    val p2 = Directory.listUsers(users, "realm-0", 5, Some("001")).collect()
    assert(p2.map(_.getString(0)).toSeq == Seq("002") &&
      !p2.head.getAs[Boolean]("is_truncated"))
    // a limit equal to the realm's user count: full page, not truncated
    val full = Directory.listUsers(users, "realm-0", 2).collect()
    assert(full.map(_.getString(0)).toSeq == Seq("001", "002"))
    assert(full.forall(r => !r.getAs[Boolean]("is_truncated") &&
      r.isNullAt(r.fieldIndex("next_start_after"))))
  }

  test("list groups: skip/take offset paging, limit 0 empty (list_groups.rs)") {
    val g = (1 to 9).map(i => (s"g$i", s"n$i", "realm-0"))
      .toDF("group_id", "name", "realm")
    assert(Directory.listGroups(g, 3, 2).collect().map(_.getString(0)).toSeq
      == Seq("g3", "g4", "g5"))
    assert(Directory.listGroups(g, 3, 20).count() == 0)
    assert(Directory.listGroups(g, 0, 2).count() == 0)
  }

  test("list documents: only Deleted lifecycle suppresses " +
    "(list_metadata_documents.rs:108-116)") {
    val reg = Seq(
      ("graph:1", "1", "grp-1", "/p/1", true),
      ("graph:2", "2", "grp-1", "/p/2", false),
      ("graph:3", "3", "grp-1", "/p/3", true),
      ("graph:4", "4", "grp-2", "/p/4", true)
    ).toDF("graph_iri", "document_id", "group_id", "document_path", "public")
    val lc = Seq(("graph:2", "Deleted"), ("graph:3", "Created"))
      .toDF("graph_iri", "status")
    val out = Directory.listDocuments(reg, lc, "grp-1")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(out == Seq("1", "3")) // 2 deleted, 3 survives, 4 other group
  }

  private lazy val docRegistry = Seq(
    ("graph:1", "1", "grp-1", true, "00000007"),
    ("graph:2", "2", "grp-1", false, "00000014"),
    ("graph:3", "3", "grp-1", true, "00000021"),
    ("graph:4", "4", "grp-1", true, "00000028")
  ).toDF("graph_iri", "document_id", "group_id", "public", "last_event_id")

  test("getDocuments: not-found / wrong-group / deleted / cursor-proof arms " +
    "(get_metadata_document.rs:100-170)") {
    val lc = Seq(("graph:2", "Deleted")).toDF("graph_iri", "status")
    val sts = Seq(
      ("1", "00000007", "Materialized"), // exact cursor, proven
      ("3", "00000021", "Pending"),      // exact cursor, NOT materialized
      ("4", "00000099", "Pending")       // stale cursor: proves nothing
    ).toDF("document_id", "status_event_id", "mat_state")
    val reqs = Seq(
      ("r1", "grp-1", "1"),   // Ok, proven
      ("r2", "grp-1", "2"),   // deleted
      ("r3", "grp-1", "3"),   // cursor match + non-Materialized -> GraphNotFound
      ("r4", "grp-1", "4"),   // stale cursor -> served unproven
      ("r5", "grp-x", "1"),   // wrong group
      ("r6", "grp-1", "999")  // unknown id
    ).toDF("req_id", "group_id", "document_id")
    val out = Directory.getDocuments(reqs, docRegistry, lc, sts)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(4))))).toMap
    assert(out("r1") == (("Ok", Some("graph:1"), Some(true))))
    assert(out("r2")._1 == "DocumentNotFound")
    assert(out("r3")._1 == "GraphNotFound")
    assert(out("r4") == (("Ok", Some("graph:4"), Some(false))))
    assert(out("r5")._1 == "DocumentNotFound")
    assert(out("r6")._1 == "DocumentNotFound")
  }

  test("getDocuments plan: registry/lifecycle/status keyspaces probed, " +
    "never broadcast whole") {
    val reg = spark.range(50000).selectExpr(
      "concat('graph:', id) AS graph_iri",
      "CAST(id AS STRING) AS document_id",
      "concat('grp-', id % 10) AS group_id", "id % 2 = 0 AS public",
      "lpad(CAST(id * 7 % 100000 AS STRING), 8, '0') AS last_event_id")
    val lc = spark.range(50000).selectExpr(
      "concat('graph:', id) AS graph_iri",
      "CASE WHEN id % 97 = 0 THEN 'Deleted' ELSE 'Created' END AS status")
    val sts = spark.range(50000).selectExpr(
      "CAST(id AS STRING) AS document_id",
      "lpad(CAST(id * 7 % 100000 AS STRING), 8, '0') AS status_event_id",
      "'Materialized' AS mat_state")
    val reqs = Seq(("r1", "grp-1", "1"), ("r2", "grp-2", "2"))
      .toDF("req_id", "group_id", "document_id")
    val out = Directory.getDocuments(reqs, reg, lc, sts)
    assert(out.collect().length == 2)
    val bad = out.queryExecution.executedPlan.collect {
      case p if p.nodeName.contains("BroadcastExchange") &&
        p.collectLeaves().exists(_.nodeName.contains("Range")) &&
        !p.toString.contains("Join") => p
    }
    assert(bad.isEmpty,
      s"document keyspace broadcast without a probe join:\n${bad.mkString}")
  }
}
