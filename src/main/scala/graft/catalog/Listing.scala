package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S3 listing operators (reference `operations/src/s3/`):
  *
  *  - ListObjectsV2 (`list_objects_v2.rs`): prefix scan over current heads,
  *    delimiter grouping via `common_prefix_of` (`listing.rs:4-14`), objects
  *    + CommonPrefixes merged in key order, `max_keys` page (default 1000),
  *    `start_after`/continuation cursor = last emitted name.
  *  - ListObjectVersions: full-prefix scan, ordered (key asc, version desc),
  *    `is_latest` flag, delete markers included as their own kind.
  *  - bucket search (`search_buckets.rs:88,144`): case-insensitive substring,
  *    `ws-` workspaces excluded.
  *
  * Scale: `objects` computes `bucket` and `key` from lineitem columns, so
  * no ListObjectsV2 or ListObjectVersions predicate reaches the scan: each
  * request reads the whole object table, windows heads once, and ends in a
  * TakeOrdered(max_keys). The delimiter listing derives objects and common
  * prefixes in one pass. Every listing with a truncation trailer decides it
  * with [[page]], a limit+1 look-ahead, never a count of its whole input.
  */
object Listing {

  val DefaultMaxKeys = 1000 // list_objects_v2.rs:128

  /** `common_prefix_of(key, prefix, delimiter)` (listing.rs:4-14): the key's
    * group prefix up to and including the first delimiter after `prefix`,
    * or NULL when the key has no further delimiter (a leaf object). */
  def commonPrefixOf(key: Column, prefix: String, delimiter: String): Column = {
    val rest = substring(key, prefix.length + 1, Int.MaxValue)
    val pos = instr(rest, delimiter)
    when(pos > 0, concat(lit(prefix), rest.substr(lit(1), pos + lit(delimiter.length - 1))))
      .otherwise(lit(null))
  }

  /** One page of `rows` in `order`: rows offset+1..offset+limit, with the
    * reference's limit+1 look-ahead (`notifications/list.rs:64-175`,
    * `list_users.rs:66-183`) deciding whether more follow. One bounded
    * TakeOrdered keeps offset+limit+1 rows and one single-partition window
    * numbers them, so nothing counts the whole input. Adds `is_truncated`
    * (the look-ahead row exists, i.e. more than offset+limit rows) and, per
    * `(name, c)` of `cursor`, the page's last row's `c` when truncated, else
    * null. */
  private[graft] def page(rows: DataFrame, order: Seq[Column], limit: Int,
      offset: Int = 0, cursor: Seq[(String, Column)] = Nil): DataFrame = {
    val end = offset + limit
    val w = Window.partitionBy(lit(0)).orderBy(order: _*)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val truncated = count(lit(1)).over(all) > end
    // nth_value counts from 1; an empty page (end 0) keeps no row anyway
    val last = cursor.map { case (name, c) =>
      when(truncated, nth_value(c, math.max(end, 1)).over(all)).as(name) }
    rows.orderBy(order: _*).limit(end + 1)
      .select(Seq(col("*"), row_number().over(w).as("__rn"),
        truncated.as("is_truncated")) ++ last: _*)
      .filter(col("__rn") > offset && col("__rn") <= end)
      .drop("__rn")
      .orderBy(order: _*)
  }

  /** One ListObjectsV2 page: rows (kind ∈ Object|CommonPrefix, name, size). */
  def listObjectsV2(objects: DataFrame, bucket: String, prefix: String,
      delimiter: Option[String], startAfter: Option[String],
      maxKeys: Int = DefaultMaxKeys): DataFrame = {
    val h = ObjectTables.heads(objects)
      .filter(col("bucket") === bucket && col("key").startsWith(prefix))
    delimiter match {
      case Some(d) =>
        // one pass over the heads: a key under a further delimiter folds
        // into its common prefix. Heads hold one row per key and no prefix
        // (ending in the delimiter) equals a leaf key, so `distinct` only
        // merges a prefix's keys. Continuation resumes after the last
        // *emitted* name, so a common prefix cursor skips every key under
        // it (list_objects_v2.rs:60-74).
        val cp = commonPrefixOf(col("key"), prefix, d)
        var entries = h.select(
          when(cp.isNull, "Object").otherwise("CommonPrefix").as("kind"),
          coalesce(cp, col("key")).as("name"),
          when(cp.isNull, col("size")).as("size"))
        startAfter.foreach(c => entries = entries.filter(col("name") > c))
        entries.distinct().orderBy(col("name")).limit(maxKeys)
      case None =>
        var hh = h
        startAfter.foreach(c => hh = hh.filter(col("key") > c))
        hh.select(lit("Object").as("kind"), col("key").as("name"), col("size"))
          .orderBy(col("name")).limit(maxKeys)
    }
  }

  /** ListObjectVersions: every version in (key asc, version desc) order with
    * `is_latest` and delete-marker kinds; `key_marker` resume. */
  def listVersions(objects: DataFrame, bucket: String, prefix: String,
      keyMarker: Option[String] = None, maxKeys: Int = DefaultMaxKeys): DataFrame = {
    val w = Window.partitionBy(col("bucket"), col("key"))
      .orderBy(col("version_ord").desc, col("hash").desc)
    var v = objects
      .filter(col("bucket") === bucket && col("key").startsWith(prefix))
    keyMarker.foreach(m => v = v.filter(col("key") > m))
    v.withColumn("is_latest", row_number().over(w) === 1)
      .select(
        when(col("is_delete_marker"), "DeleteMarker").otherwise("Version").as("kind"),
        col("key"), col("version_ulid"), col("is_latest"), col("size"))
      .orderBy(col("key"), col("version_ulid").desc, col("size"))
      .limit(maxKeys)
  }

  /** One fully-paged ListObjectVersions page (reference
    * `operations/src/s3/list_object_versions.rs`). Semantics pinned from the
    * reference's head-driven walk:
    *
    *  - the head pointer INCLUDES delete-marker heads — unlike the V2/head
    *    walk where a marker hides the key, ListObjectVersions emits markers
    *    with `is_latest` (`list_object_versions.rs:452-480`);
    *  - per key, versions order newest→oldest (`created_at` DESC with the
    *    head-first same-millisecond tie-break, `:451-459`; the fixture's
    *    `version_ord` is unique per key so plain DESC is exact);
    *  - version state ladder (`:474-509`): Deleted → DeleteMarker item;
    *    Reference → Version with cached source metadata and NO location;
    *    Materialized → Version joined to the blob-locations keyspace, and a
    *    materialized version whose location row is MISSING is skipped as a
    *    data inconsistency rather than emitted partially (`:556-559`);
    *  - delimiter grouping via [[commonPrefixOf]]; common prefixes share the
    *    `max_keys` budget with version items (`:589-606`);
    *  - `(key_marker, version_id_marker)` tuple resume (`:253-267`):
    *    key-marker alone skips the whole marker key (and any group ≤ it);
    *    with a version-id marker the marker key's OLDER versions still emit
    *    (valid markers come from a previous page, so `ulid < marker` is the
    *    exact "after the marker in DESC order" set); a key marker ending in
    *    the delimiter resumes past its whole common prefix (`:247-251`);
    *  - trailer (`:599-616`): `is_truncated`, `next_key_marker` +
    *    `next_version_id_marker` = the LAST emitted entry (null version
    *    marker when the page ends on a common prefix).
    *
    * Scale: bucket+prefix predicates push into the versions scan (the
    * keyspace analog of the reference's prefix-bounded LSM iter); the head
    * window is per-(bucket,key) map-side under the clustered store layout;
    * the location join is hash-equi against the content-addressed keyspace
    * (data-plane-sized — deliberately NO broadcast hint, AQE decides); the
    * page is a [[page]] look-ahead, no global sort. */
  def listObjectVersionsPaged(versions: DataFrame, locations: DataFrame,
      bucket: String, prefix: String = "", delimiter: Option[String] = None,
      keyMarker: Option[String] = None, versionIdMarker: Option[String] = None,
      maxKeys: Int = DefaultMaxKeys): DataFrame = {
    val wHead = Window.partitionBy(col("bucket"), col("key"))
      .orderBy(col("version_ord").desc, col("hash").desc)
    var v = versions.filter(col("bucket") === bucket)
    if (prefix.nonEmpty) v = v.filter(col("key").startsWith(prefix))
    val headed = v.withColumn("is_latest", row_number().over(wHead) === 1)
    // fixture state machine (deterministic stand-in for BlobVersionState):
    // marker → Deleted; ord%7==3 → Reference (cached metadata); else
    // Materialized (location row required)
    val isRef = !col("is_delete_marker") && col("version_ord") % 7 === 3
    val isMat = !col("is_delete_marker") && !(col("version_ord") % 7 === 3)
    val loc = locations.select(col("blake3").as("hash"),
      col("backend").as("__loc_backend"))
    val located = headed.join(loc, Seq("hash"), "left")
      .withColumn("__ref", isRef)
      .withColumn("__mat", isMat)
      .filter(!col("__mat") || col("__loc_backend").isNotNull)
    val withCp = delimiter match {
      case Some(d) => located.withColumn("cp", commonPrefixOf(col("key"), prefix, d))
      case None    => located.withColumn("cp", lit(null).cast("string"))
    }
    val name = coalesce(col("cp"), col("key"))
    val marked = (keyMarker, versionIdMarker) match {
      case (Some(km), Some(vm)) =>
        withCp.filter(name > km ||
          (col("cp").isNull && col("key") === km && col("version_ulid") < vm))
      case (Some(km), None) => withCp.filter(name > km)
      case _ => withCp
    }
    val prefixes = marked.filter(col("cp").isNotNull)
      .select(col("cp").as("name")).distinct()
      .select(lit("CommonPrefix").as("kind"), col("name"),
        lit(null).cast("string").as("version_ulid"),
        lit(null).cast("boolean").as("is_latest"),
        lit(null).cast("long").as("size"),
        lit(null).cast("string").as("backend"),
        lit(null).cast("boolean").as("cached_meta"),
        lit(null).cast("long").as("created_at_ms"),
        lit(null).cast("long").as("__ord"))
    val items = marked.filter(col("cp").isNull)
      .select(
        when(col("is_delete_marker"), "DeleteMarker").otherwise("Version").as("kind"),
        col("key").as("name"), col("version_ulid"), col("is_latest"),
        when(!col("is_delete_marker"), col("size")).as("size"),
        when(col("__mat"), col("__loc_backend")).as("backend"),
        when(!col("is_delete_marker"), col("__ref")).as("cached_meta"),
        col("created_at_ms"), col("version_ord").as("__ord"))
    page(prefixes.unionByName(items),
      Seq(col("name"), col("__ord").desc_nulls_last), maxKeys,
      cursor = Seq("next_key_marker" -> col("name"),
        "next_version_id_marker" -> col("version_ulid")))
      .drop("__ord")
  }

  /** Case-insensitive bucket substring search, excluding `ws-` workspaces. */
  def searchBuckets(buckets: DataFrame, q: String): DataFrame =
    buckets
      .filter(lower(col("bucket")).contains(q.toLowerCase) &&
        !col("bucket").startsWith("ws-"))
      .orderBy(col("bucket"))

  /** The FULL SearchBuckets operation (reference
    * `operations/src/s3/search_buckets.rs:83-245`) around cat4's
    * substring filter: the limit clamps into 1..=50 (`:83,87`),
    * candidates walk in bucket-key order, every candidate passes a
    * per-bucket READ permission check (denied buckets are skipped, the
    * scan continues until the limit fills, `:155-199`), and hits enrich
    * with the owning group's display name — a missing group document is
    * a NULL name, not an error (`:213-224`) — plus the bucket's S3 ARN.
    *
    * `buckets(bucket, group_id, created_at)`; `grants(bucket)` — the
    * caller's readable set; `groups(group_id, display_name)`.
    *
    * Scale: the candidate filter + authorization are one pushed scan over
    * the bucket catalog; the limit is a bounded TakeOrdered, never a
    * global sort at corpus scale. */
  def searchBucketsAuthorized(buckets: DataFrame, grants: DataFrame,
      groups: DataFrame, q: String, limit: Int, realmId: String,
      nodeId: String): DataFrame = {
    val clamped = math.max(1, math.min(limit, 50))
    val hits = buckets
      .filter(lower(col("bucket")).contains(q.toLowerCase) &&
        !col("bucket").startsWith("ws-"))
      .join(broadcast(grants.select(col("bucket")).distinct()),
        Seq("bucket")) // denied candidates are skipped, scan continues
      .orderBy("bucket").limit(clamped)
    hits.join(broadcast(groups
        .select(col("group_id"), col("display_name"))), Seq("group_id"),
        "left")
      .select(
        concat(lit(s"arn:aruna:$realmId:$nodeId:s3/"), col("bucket"))
          .as("arn"),
        col("bucket"), col("group_id"),
        col("display_name").as("group_name"), col("created_at"))
      .orderBy("bucket")
  }

  /** One ListParts page (reference `operations/src/s3/list_parts.rs`):
    * parts of one Open upload in ascending part_number order,
    * `part_number_marker` resume (strictly-after, `list_parts.rs:186-189`),
    * `max_parts` page (default 1000), `is_truncated` +
    * `next_part_number_marker` = last emitted part number
    * (`list_parts.rs:191-200`). A missing / closed / target-mismatched
    * upload yields an empty page (the reference's NoSuchUpload /
    * UploadNotOpen errors).
    *
    * Scale: the part scan is prefix-bounded by upload_id (PART_SCAN_LIMIT
    * 10_000, `list_parts.rs:14` — one upload's parts ALWAYS fit a page
    * read), so the filter pushes to the scan and the page is a [[page]]
    * look-ahead over that one upload's parts. */
  def listParts(uploads: DataFrame, parts: DataFrame, uploadId: String,
      partNumberMarker: Option[Int] = None, maxParts: Int = 1000): DataFrame = {
    val open = uploads
      .filter(col("upload_id") === uploadId && col("status") === "Open")
      .select("upload_id", "bucket", "key")
    var p = parts.filter(col("upload_id") === uploadId)
    partNumberMarker.foreach(m => p = p.filter(col("part_number") > m))
    val survivors = p.join(broadcast(open), Seq("upload_id"))
      .select(col("bucket"), col("key"), col("part_number"), col("size"), col("hash"))
    page(survivors, Seq(col("part_number")), maxParts,
      cursor = Seq("next_part_number_marker" -> col("part_number")))
  }

  /** One ListMultipartUploads page (reference
    * `operations/src/s3/list_multipart_uploads.rs`): Open uploads of one
    * bucket filtered by key prefix, delimiter-grouped via
    * [[commonPrefixOf]], ordered by (key, upload_id)
    * (`list_multipart_uploads.rs:196-202`), `(key_marker, upload_id_marker)`
    * tuple resume (`:206-219` — equal keys drop unless the upload-id marker
    * is present and exceeded), prefixes and uploads sharing one `max_uploads`
    * budget. max_uploads=0 short-circuits to an empty page (`:105-118`).
    *
    * Scale: the reference scans the global multipart keyspace because it has
    * no per-bucket index (`list_multipart_uploads.rs:3-5`); here the bucket
    * + prefix predicates push down to the scan, and the page is a bounded
    * TakeOrdered — no global sort. */
  def listMultipartUploads(uploads: DataFrame, bucket: String,
      prefix: Option[String] = None, delimiter: Option[String] = None,
      keyMarker: Option[String] = None, uploadIdMarker: Option[String] = None,
      maxUploads: Int = 1000): DataFrame = {
    var u = uploads.filter(col("bucket") === bucket && col("status") === "Open")
    prefix.filter(_.nonEmpty).foreach(p => u = u.filter(col("key").startsWith(p)))
    val withCp = delimiter match {
      case Some(d) => u.withColumn("cp",
        commonPrefixOf(col("key"), prefix.getOrElse(""), d))
      case None => u.withColumn("cp", lit(null).cast("string"))
    }
    // a group's cursor is its last underlying key, so resume compares the
    // group name (> any key under it ⇒ the whole group is skipped)
    val name = coalesce(col("cp"), col("key"))
    val marked = (keyMarker, uploadIdMarker) match {
      case (Some(km), Some(um)) =>
        withCp.filter(name > km || (col("cp").isNull && col("key") === km && col("upload_id") > um))
      case (Some(km), None) => withCp.filter(name > km)
      case _ => withCp
    }
    val prefixes = marked.filter(col("cp").isNotNull)
      .select(lit("CommonPrefix").as("kind"), col("cp").as("name"),
        lit(null).cast("string").as("upload_id"))
      .distinct()
    val leaves = marked.filter(col("cp").isNull)
      .select(lit("Upload").as("kind"), col("key").as("name"), col("upload_id"))
    prefixes.union(leaves).orderBy(col("name"), col("upload_id")).limit(maxUploads)
  }

  /** One plain paged ListBuckets page (reference
    * `operations/src/s3/list_buckets.rs`): the listing every S3 client calls
    * first. Buckets of one group filtered by name prefix, name order,
    * `continuation_token` resume (strictly-after), `max_buckets` clamp
    * (≤0 / None → 10_000, `list_buckets.rs:59,117-120`), and the
    * continuation token = last returned name when more remain
    * (`list_buckets.rs:137-144`). */
  def listBuckets(buckets: DataFrame, groupId: String,
      prefix: Option[String] = None, continuationToken: Option[String] = None,
      maxBuckets: Option[Int] = None): DataFrame = {
    val maxN = maxBuckets.filter(_ > 0).getOrElse(10000)
    var b = buckets.filter(col("group_id") === groupId)
    prefix.foreach(p => b = b.filter(col("bucket").startsWith(p)))
    continuationToken.foreach(t => b = b.filter(col("bucket") > t))
    page(b, Seq(col("bucket")), maxN,
      cursor = Seq("continuation_token" -> col("bucket")))
  }

  /** Unified-search limits (reference `api/src/routes/search.rs:27-29`). */
  val UnifiedSearchDefaultLimit = 10
  val UnifiedSearchMaxLimit = 100
  val UnifiedSearchBucketLimit = 50

  /** Minimum query length for user/group name search (the reference's
    * `MIN_SEARCH_QUERY_CHARS` guard, `api/src/routes/users.rs`). */
  val MinSearchQueryChars = 2

  /** Case-insensitive substring search over a name column with the
    * min-chars guard and limit clamp — the user/group search shape
    * (`operations/src/search_users.rs` / `search_groups.rs`). */
  def searchNames(df: DataFrame, nameCol: String, q: String,
      limit: Int = UnifiedSearchDefaultLimit): DataFrame = {
    if (q == null || q.trim.length < MinSearchQueryChars)
      df.limit(0)
    else
      df.filter(lower(col(nameCol)).contains(q.trim.toLowerCase))
        .orderBy(col(nameCol))
        .limit(math.min(math.max(limit, 1), UnifiedSearchMaxLimit))
  }
}
