package graft.catalog

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User/group directory operators (reference `operations/src/`):
  *
  *  - batch user resolution (`resolve_users.rs:70-161`): request-id dedup,
  *    unknown ids dropped, foreign-realm users dropped, and ONLY the
  *    safe-attribute allowlist exposed — `email` must never reach resolve
  *    output (`core/src/user_update_validation.rs:7-10`);
  *  - user-attribute validation (`user_update_validation.rs:22-52`): key
  *    charset `[A-Za-z0-9._:-]`, 1..128 bytes; value ≤ 4096 bytes, no
  *    control chars; ≤ 128 attributes per user;
  *  - paged realm-scoped user listing (`list_users.rs:66-183`): limit
  *    clamped to ≥ 1, the limit+1 probe decides `is_truncated`, cursor =
  *    last returned user id, strictly-after resume;
  *  - offset-paged group listing (`list_groups.rs:29-66`):
  *    skip(offset).take(limit) in group-id order;
  *  - metadata-document listing (`list_metadata_documents.rs:99-140`): the
  *    group's registry rows anti-joined against DELETED graph-lifecycle
  *    records — the deleted set is collected once and applied as a filter,
  *    never as per-record reads.
  *
  * Scale: the directory keyspaces are control-plane-sized but the operators
  * are written for the data-plane case anyway — request batches broadcast
  * into the store scan (the point-read analog), listings are
  * [[Listing.page]] look-aheads over filtered scans, and the lifecycle
  * anti-join broadcasts the deleted set (bounded by the graph catalog, not
  * the corpus).
  */
object Directory {

  val MaxUserAttributes = 128
  val MaxAttrKeyBytes = 128
  val MaxAttrValueBytes = 4096

  /** users(realm, user_id, name, orcid, affiliation, department, email) —
    * one directory user per customer; email is deliberately present in the
    * STORE so gates can prove it never leaks into resolve output. */
  def users(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      concat(lit("realm-"), (col("c_nationkey") % 3).cast("string")).as("realm"),
      lpad(col("c_custkey").cast("string"), 12, "0").as("user_id"),
      col("c_name").as("name"),
      when(col("c_custkey") % 3 =!= 1,
        concat(lit("0000-000"), (col("c_custkey") % 10).cast("string"))).as("orcid"),
      when(col("c_custkey") % 4 =!= 2,
        concat(lit("inst-"), (col("c_custkey") % 50).cast("string"))).as("affiliation"),
      when(col("c_custkey") % 5 =!= 3,
        concat(lit("dept-"), (col("c_custkey") % 12).cast("string"))).as("department"),
      concat(lit("u"), col("c_custkey").cast("string"), lit("@example.org")).as("email"))

  val usersCte: String =
    """users AS (
      |  SELECT 'realm-'||(c_nationkey%3) AS realm,
      |         lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS user_id,
      |         c_name AS name,
      |         CASE WHEN c_custkey%3<>1 THEN '0000-000'||(c_custkey%10) END AS orcid,
      |         CASE WHEN c_custkey%4<>2 THEN 'inst-'||(c_custkey%50) END AS affiliation,
      |         CASE WHEN c_custkey%5<>3 THEN 'dept-'||(c_custkey%12) END AS department,
      |         'u'||c_custkey||'@example.org' AS email
      |  FROM customer
      |)""".stripMargin

  /** groups(group_id, name, realm) — one group per supplier. */
  def groups(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir).select(
      concat(lit("g"), lpad(col("s_suppkey").cast("string"), 6, "0")).as("group_id"),
      concat(lit("group-"), col("s_suppkey").cast("string")).as("name"),
      concat(lit("realm-"), (col("s_nationkey") % 3).cast("string")).as("realm"))

  val groupsCte: String =
    """groups AS (
      |  SELECT 'g'||lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS group_id,
      |         'group-'||s_suppkey AS name,
      |         'realm-'||(s_nationkey%3) AS realm
      |  FROM supplier
      |)""".stripMargin

  /** attrs(user_id, key, value) — raw attribute entries for ~1/3 of users,
    * with planted violations of every `user_update_validation.rs` rule:
    * space / slash / non-ascii-free charset breaks, an over-128-byte key,
    * a control-char value, an over-4096-byte value, and one user pushed
    * past the 128-attribute cap by clean filler keys. */
  def attrs(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") % 3 === 0)
      .select(lpad(col("c_custkey").cast("string"), 12, "0").as("user_id"),
        col("c_custkey").as("ck"))
    val base = c.select(col("user_id"), col("ck"),
      explode(array(
        struct(lit("orcid").as("key"),
          concat(lit("0000-000"), (col("ck") % 10).cast("string")).as("value")),
        struct(lit("profile.department").as("key"),
          concat(lit("dept-"), (col("ck") % 12).cast("string")).as("value")),
        struct(lit("team-name").as("key"),
          concat(lit("team-"), (col("ck") % 7).cast("string")).as("value"))))
        .as("kv"))
      .select(col("user_id"), col("ck"), col("kv.key"), col("kv.value"))
    val planted = c.select(col("user_id"), col("ck"),
      explode(filter(array(
        when(col("ck") % 17 === 0,
          struct(lit("display name").as("key"), lit("Bad Key").as("value"))),
        when(col("ck") % 19 === 0,
          struct(lit("owner/slash").as("key"), lit("x").as("value"))),
        when(col("ck") % 23 === 0,
          struct(lit("bio").as("key"),
            concat(lit("bio"), lit("\n"), lit("line")).as("value"))),
        when(col("ck") % 29 === 0,
          struct(lit("k" * 129).as("key"), lit("x").as("value"))),
        when(col("ck") % 31 === 0,
          struct(lit("note").as("key"), lit("v" * 4097).as("value")))),
        x => x.isNotNull)).as("kv"))
      .select(col("user_id"), col("ck"), col("kv.key"), col("kv.value"))
    val filler = c.filter(col("ck") % 199 === 0)
      .select(col("user_id"), col("ck"), explode(sequence(lit(0), lit(129))).as("i"))
      .select(col("user_id"), col("ck"),
        concat(lit("f"), lpad(col("i").cast("string"), 3, "0")).as("key"),
        lit("x").as("value"))
    base.unionByName(planted).unionByName(filler).drop("ck")
  }

  val attrsCte: String =
    """attrs AS (
      |  WITH c AS (SELECT lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS user_id,
      |                    c_custkey AS ck
      |             FROM customer WHERE c_custkey%3=0)
      |  SELECT user_id, 'orcid' AS key, '0000-000'||(ck%10) AS value FROM c
      |  UNION ALL SELECT user_id, 'profile.department', 'dept-'||(ck%12) FROM c
      |  UNION ALL SELECT user_id, 'team-name', 'team-'||(ck%7) FROM c
      |  UNION ALL SELECT user_id, 'display name', 'Bad Key' FROM c WHERE ck%17=0
      |  UNION ALL SELECT user_id, 'owner/slash', 'x' FROM c WHERE ck%19=0
      |  UNION ALL SELECT user_id, 'bio', 'bio'||chr(10)||'line' FROM c WHERE ck%23=0
      |  UNION ALL SELECT user_id, repeat('k', 129), 'x' FROM c WHERE ck%29=0
      |  UNION ALL SELECT user_id, 'note', repeat('v', 4097) FROM c WHERE ck%31=0
      |  UNION ALL SELECT user_id, 'f'||lpad(CAST(r AS VARCHAR), 3, '0'), 'x'
      |            FROM c, range(0, 130) t(r) WHERE ck%199=0
      |)""".stripMargin

  /** Batch user resolution (`resolve_users.rs:70-161`): requested ids
    * deduped, unknown dropped, foreign-realm dropped, safe attributes only.
    * The request batch is one API call — broadcast into the store scan. */
  def resolveUsers(users: DataFrame, requests: DataFrame, realm: String): DataFrame = {
    val ids = requests.select("user_id").dropDuplicates("user_id")
    users.filter(col("realm") === realm)
      .join(broadcast(ids), Seq("user_id"))
      .select(col("user_id"), col("name"),
        col("orcid"), col("affiliation"), col("department"))
  }

  /** Per-user attribute-batch validation verdict
    * (`user_update_validation.rs:22-52`): the first failing attribute in
    * key order decides — invalid key beats invalid value AT the same key —
    * and an over-cap attribute count fails a batch whose attributes are
    * individually clean. */
  def validateAttrs(attrs: DataFrame): DataFrame = {
    val keyOk = length(col("key")).between(1, MaxAttrKeyBytes) &&
      col("key").rlike("^[A-Za-z0-9._:-]+$")
    val valueOk = octet_length(col("value")) <= MaxAttrValueBytes &&
      !col("value").rlike("[\\x00-\\x1f\\x7f]")
    val err = when(!keyOk, concat(lit("invalid_key:"), col("key")))
      .when(!valueOk, concat(lit("invalid_value:"), col("key")))
    attrs
      .withColumn("__err", err)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attrs"),
        min(when(col("__err").isNotNull, struct(col("key"), col("__err"))))
          .getField("__err").as("__first"))
      .select(col("user_id"), col("n_attrs"),
        coalesce(col("__first"),
          when(col("n_attrs") > MaxUserAttributes, "too_many_attributes"),
          lit("ok")).as("verdict"))
  }

  /** One paged realm-scoped user listing page (`list_users.rs:66-183`). */
  def listUsers(users: DataFrame, realm: String,
      limit: Int, startAfter: Option[String] = None): DataFrame = {
    val clamped = math.max(limit, 1) // list_users.rs:67
    var u = users.filter(col("realm") === realm)
    startAfter.foreach(c => u = u.filter(col("user_id") > c))
    Listing.page(u.select("user_id", "name"), Seq(col("user_id")), clamped,
      cursor = Seq("next_start_after" -> col("user_id")))
  }

  /** One offset-paged group listing page (`list_groups.rs:29-66`): group-id
    * order, `skip(offset).take(limit)`. */
  def listGroups(groups: DataFrame, limit: Int, offset: Int): DataFrame =
    Listing.page(groups.select("group_id", "name", "realm"),
      Seq(col("group_id")), limit, offset).drop("is_truncated")

  /** lifecycle(graph_iri, status) — graph lifecycle records; only
    * `Deleted` rows suppress listings (`list_metadata_documents.rs:108-116`).
    * Includes live `Created` rows so the anti-join has to discriminate. */
  def lifecycle(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 === 0 || col("doc_id") % 89 === 0)
      .select(concat(lit("graph:"), col("doc_id").cast("string")).as("graph_iri"),
        when(col("doc_id") % 97 === 0, "Deleted").otherwise("Created").as("status"))

  val lifecycleCte: String =
    """lifecycle AS (
      |  SELECT 'graph:'||doc_id AS graph_iri,
      |         CASE WHEN doc_id%97=0 THEN 'Deleted' ELSE 'Created' END AS status
      |  FROM documents WHERE doc_id%97=0 OR doc_id%89=0
      |)""".stripMargin

  /** The group's metadata-document listing (`list_metadata_documents.rs`):
    * registry rows anti-joined against deleted graph IRIs. The deleted set
    * is graph-catalog-bounded — broadcast, never per-record reads. */
  def listDocuments(registry: DataFrame, lifecycle: DataFrame,
      groupId: String): DataFrame = {
    val deleted = lifecycle.filter(col("status") === "Deleted")
      .select("graph_iri").distinct()
    registry.filter(col("group_id") === groupId)
      .join(broadcast(deleted), Seq("graph_iri"), "left_anti")
      .select("document_id", "graph_iri", "document_path", "public")
  }

  /** Realm-wide live-document count (reference
    * `operations/src/metadata/stats.rs:19-36`, `count_realm_documents`):
    * the cached registry snapshot counted per realm, excluding
    * lifecycle-Deleted graphs (the snapshot is maintained past deletes —
    * the same anti-join [[listDocuments]] applies), NOT filtered by any
    * caller's read visibility (the total discloses only volume). A node
    * running without a metadata subsystem answers None — `n_documents` is
    * NULL there and 0 for a live subsystem over an empty realm, keeping
    * the reference's `Option<u64>` distinction.
    *
    * `registry` must carry `realm_id`; `requests(realm_id, has_metadata)`.
    * Scale: one partial-aggregated count per realm (realm cardinality is
    * config-sized), broadcast onto the request batch. */
  def realmDocumentCounts(registry: DataFrame, lifecycle: DataFrame,
      requests: DataFrame): DataFrame = {
    val deleted = lifecycle.filter(col("status") === "Deleted")
      .select("graph_iri").distinct()
    val counts = registry
      .join(broadcast(deleted), Seq("graph_iri"), "left_anti")
      .groupBy("realm_id").agg(count(lit(1)).as("n"))
    requests.join(broadcast(counts), Seq("realm_id"), "left")
      .select(col("realm_id"),
        when(col("has_metadata"), coalesce(col("n"), lit(0L)))
          .as("n_documents"))
  }

  /** GetMetadataDocument view resolution (`metadata/
    * get_metadata_document.rs:118-170` — the read ladder BEFORE the
    * RO-Crate export, which is jl2's contract):
    *
    *  1. the registry read is (group, document)-keyed — an unknown id OR
    *     the wrong group is DocumentNotFound;
    *  2. a graph-lifecycle record in Deleted state is DocumentNotFound
    *     (an ABSENT lifecycle record is fine);
    *  3. the materialization-status cursor proof (`:100-112`): registry
    *     rows can replicate ahead of the document event, so only a status
    *     recorded for EXACTLY this record's `last_event_id` proves
    *     anything — a matching cursor in a non-Materialized state is
    *     GraphNotFound; a missing or stale-cursor status serves the view
    *     (unproven), a matching Materialized one serves it proven.
    *
    * Scale: registry/lifecycle/status are document-catalog relations; the
    * request batch broadcasts into them. */
  def getDocuments(requests: DataFrame, registry: DataFrame,
      lifecycle: DataFrame, statuses: DataFrame): DataFrame = {
    // probe the registry with the broadcast request keys (the registry is
    // the corpus side), then hand the small hit set back to the batch;
    // lifecycle/statuses are per-document keyspaces — probe them with the
    // hit-set's keys too, never broadcast the corpus side
    val hits = registry.join(broadcast(requests
      .select("group_id", "document_id").distinct()),
      Seq("group_id", "document_id"))
    val lifeHits = lifecycle.join(
      broadcast(hits.select("graph_iri").distinct()), Seq("graph_iri"))
    val statusHits = statuses.join(
      broadcast(hits.select("document_id").distinct()), Seq("document_id"))
    val j = requests
      .join(broadcast(hits), Seq("group_id", "document_id"), "left")
      .join(broadcast(lifeHits), Seq("graph_iri"), "left")
      .join(broadcast(statusHits), Seq("document_id"), "left")
    val found = col("graph_iri").isNotNull
    val cursorMatch = col("status_event_id").isNotNull &&
      col("status_event_id") === col("last_event_id")
    val verdict =
      when(!found, "DocumentNotFound")
        .when(col("status") === "Deleted", "DocumentNotFound")
        .when(cursorMatch && col("mat_state") =!= "Materialized",
          "GraphNotFound")
        .otherwise("Ok")
    val ok = col("verdict") === "Ok"
    j.withColumn("verdict", verdict).select(
      col("req_id"), col("verdict"),
      when(ok, col("graph_iri")).as("graph_iri"),
      when(ok, col("public")).as("public"),
      when(ok, cursorMatch && col("mat_state") === "Materialized")
        .as("mat_proven"))
  }
}
