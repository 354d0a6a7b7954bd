package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tenant storage-backend admission (reference
  * `operations/src/group_backends/validation.rs` (483 LoC) — the
  * validation + identity rules the create/replace/disable/remove family
  * is built around).
  *
  * `validate_backend_input` (`validation.rs:143-214`), first failure
  * wins:
  *
  *  1. EmptyName — the name trims to nothing;
  *  2. public-config normalize (`normalize` `:218-241`): keys lowercase
  *     BEFORE matching (no alias trap on casing); per entry — an
  *     unallowed key, an empty value, then a second spelling of one key
  *     → UnknownPublicKey / EmptyValue / DuplicateKey. The reference
  *     walks the map in hash order; here entries walk in their `seq`
  *     order (the deterministic twin);
  *  3. secret-config normalize, same rules;
  *  4. required public keys in the per-kind RULE ORDER
  *     (`rules_for_kind` `:94-141` — the tables encode the security
  *     posture: role_arn/session_token/credential_path/authority_host
  *     are absent ON PURPOSE, they'd hand requests to ambient identity);
  *  5. required secrets, then the one-of-secret rule (Azblob/Azdls:
  *     account_key or sas_token — a static credential is what keeps the
  *     ambient chain unreachable);
  *  6. endpoint: https only, then the canonical-spelling screen
  *     (shared with cv1's [[Connectors.isCanonical]]);
  *  7. bucket must not break the URL authority
  *     ([[Connectors.breaksAuthority]]);
  *  8. root must stay a confined relative path;
  *  9. force_path_style must parse as a bool.
  *
  * `check_identity` (`:78-92`): an update may change credentials and the
  * name ONLY — the kind and the per-kind identity keys (the values that
  * name the physical store, `identity_keys` `:67-76`) are immutable;
  * stored locations record only the path below root, so changing one
  * would silently redirect every object already stamped.
  */
object GroupBackends {

  private def arr(xs: String*): Column = array(xs.map(lit): _*)

  def allowedPublic(kind: Column): Column =
    when(kind === "S3",
      arr("endpoint", "bucket", "region", "root", "force_path_style"))
      .when(kind === "Gcs", arr("bucket", "root", "endpoint"))
      .when(kind === "Azblob",
        arr("endpoint", "container", "root", "account_name"))
      .when(kind === "Azdls",
        arr("endpoint", "filesystem", "root", "account_name"))
      .otherwise(arr("bucket", "bucket_id", "root")) // B2

  def requiredPublic(kind: Column): Column =
    when(kind === "S3", arr("endpoint", "bucket"))
      .when(kind === "Gcs", arr("bucket"))
      .when(kind === "Azblob", arr("endpoint", "container", "account_name"))
      .when(kind === "Azdls", arr("endpoint", "filesystem", "account_name"))
      .otherwise(arr("bucket", "bucket_id"))

  def allowedSecret(kind: Column): Column =
    when(kind === "S3", arr("access_key_id", "secret_access_key"))
      .when(kind === "Gcs", arr("credential"))
      .when(kind === "B2", arr("application_key_id", "application_key"))
      .otherwise(arr("account_key", "sas_token")) // Azblob, Azdls

  def requiredSecret(kind: Column): Column =
    when(kind === "S3", arr("access_key_id", "secret_access_key"))
      .when(kind === "Gcs", arr("credential"))
      .when(kind === "B2", arr("application_key_id", "application_key"))
      .otherwise(array().cast("array<string>"))

  def oneOfSecret(kind: Column): Column =
    when(kind === "Azblob" || kind === "Azdls",
      arr("account_key", "sas_token"))
      .otherwise(array().cast("array<string>"))

  /** `requests(req_id, op, name, kind, ex_kind)` with op ∈ validate |
    * replace (replace runs check_identity against `existing`);
    * `reqPub(req_id, seq, k, v)`; `reqSec(req_id, seq, k, v)`;
    * `existing(req_id, key, value)` — the stored backend's public config
    * (replace rows only). */
  def decide(requests: DataFrame, reqPub: DataFrame, reqSec: DataFrame,
      existing: DataFrame): DataFrame = {
    val kinds = requests.select(col("req_id"), col("kind"))

    def normalizeErr(entries: DataFrame, allowed: Column => Column,
        unknownName: String): DataFrame = {
      val w = Window.partitionBy("req_id", "kn").orderBy("seq")
      val e = entries.join(broadcast(kinds), Seq("req_id"))
        .withColumn("kn", lower(trim(col("k"))))
        .withColumn("dup_ord", row_number().over(w))
        .withColumn("err",
          when(!array_contains(allowed(col("kind")), col("kn")),
            concat(lit(unknownName + ":"), col("kn")))
            .when(trim(col("v")) === "", concat(lit("EmptyValue:"), col("kn")))
            .when(col("dup_ord") > 1, concat(lit("DuplicateKey:"), col("kn"))))
      e.groupBy("req_id").agg(
        min(when(col("err").isNotNull, struct(col("seq"), col("err"))))
          .getField("err").as("first_err"),
        collect_set(col("kn")).as("keys"),
        // any-value pivots for the semantic checks (dups error first)
        max(when(col("kn") === "endpoint", col("v"))).as("v_endpoint"),
        max(when(col("kn") === "bucket", col("v"))).as("v_bucket"),
        max(when(col("kn") === "root", col("v"))).as("v_root"),
        max(when(col("kn") === "force_path_style", col("v"))).as("v_fps"),
        max(when(col("kn") === "container", col("v"))).as("v_container"),
        max(when(col("kn") === "account_name", col("v"))).as("v_account"),
        max(when(col("kn") === "filesystem", col("v"))).as("v_filesystem"),
        max(when(col("kn") === "bucket_id", col("v"))).as("v_bucket_id"))
    }

    val pubAgg = normalizeErr(reqPub, allowedPublic, "UnknownPublicKey")
    val secAgg = normalizeErr(reqSec, allowedSecret, "UnknownSecretKey")
      .select(col("req_id"), col("first_err").as("sec_err"),
        col("keys").as("sec_keys"))
    val exAgg = existing.groupBy("req_id").agg(
      max(when(col("key") === "endpoint", col("value"))).as("x_endpoint"),
      max(when(col("key") === "bucket", col("value"))).as("x_bucket"),
      max(when(col("key") === "root", col("value"))).as("x_root"),
      max(when(col("key") === "container", col("value"))).as("x_container"),
      max(when(col("key") === "account_name", col("value"))).as("x_account"),
      max(when(col("key") === "filesystem", col("value"))).as("x_filesystem"),
      max(when(col("key") === "bucket_id", col("value"))).as("x_bucket_id"))

    val j = requests
      .join(broadcast(pubAgg), Seq("req_id"), "left")
      .join(broadcast(secAgg), Seq("req_id"), "left")
      .join(broadcast(exAgg), Seq("req_id"), "left")

    val pubKeys = coalesce(col("keys"), array().cast("array<string>"))
    val secKeys = coalesce(col("sec_keys"), array().cast("array<string>"))
    val missPub = filter(requiredPublic(col("kind")),
      x => !array_contains(pubKeys, x))
    val missSec = filter(requiredSecret(col("kind")),
      x => !array_contains(secKeys, x))
    val oneOf = oneOfSecret(col("kind"))
    val oneOfMiss = size(oneOf) > 0 &&
      !exists(oneOf, x => array_contains(secKeys, x))

    def newVal(key: String) = key match {
      case "endpoint" => col("v_endpoint"); case "bucket" => col("v_bucket")
      case "root" => col("v_root"); case "container" => col("v_container")
      case "account_name" => col("v_account")
      case "filesystem" => col("v_filesystem")
      case "bucket_id" => col("v_bucket_id")
    }
    def exVal(key: String) = key match {
      case "endpoint" => col("x_endpoint"); case "bucket" => col("x_bucket")
      case "root" => col("x_root"); case "container" => col("x_container")
      case "account_name" => col("x_account")
      case "filesystem" => col("x_filesystem")
      case "bucket_id" => col("x_bucket_id")
    }
    def keyDiff(key: String) =
      !(exVal(key) <=> newVal(key)) // null-safe: one-sided absence differs
    // first differing identity key, in the per-kind check order
    def firstImmutable(keys: Seq[String]): Column =
      keys.foldRight(lit(null).cast("string")) { (k, acc) =>
        when(keyDiff(k), lit("Immutable:" + k)).otherwise(acc)
      }
    val immutableErr =
      when(col("ex_kind") =!= col("kind"), "Immutable:type")
        .when(col("kind") === "S3" || col("kind") === "Gcs",
          firstImmutable(Seq("endpoint", "bucket", "root")))
        .when(col("kind") === "Azblob",
          firstImmutable(Seq("endpoint", "container", "account_name", "root")))
        .when(col("kind") === "Azdls",
          firstImmutable(Seq("endpoint", "filesystem", "account_name",
            "root")))
        .otherwise(firstImmutable(Seq("bucket", "bucket_id", "root")))

    val rootBad = col("v_root").isNotNull &&
      !graft.functions.Paths.confinedKeyCol(
        regexp_replace(col("v_root"), "^/+", ""))
    // replace order (replace.rs:67-87): the (group-keyed) existing read —
    // a wrong group IS NotFound, and replacement is allowed while
    // DISABLED (a leaked credential must be replaceable) — then the full
    // input validation, then check_identity
    val verdict =
      when(col("op") === "replace" && col("ex_kind").isNull, "NotFound")
        .when(trim(col("name")) === "", "EmptyName")
        .when(col("first_err").isNotNull, col("first_err"))
        .when(col("sec_err").isNotNull, col("sec_err"))
        .when(size(missPub) > 0,
          concat(lit("MissingPublicKey:"), element_at(missPub, 1)))
        .when(size(missSec) > 0,
          concat(lit("MissingSecret:"), element_at(missSec, 1)))
        .when(oneOfMiss, "MissingEitherSecret")
        .when(col("v_endpoint").isNotNull &&
          !col("v_endpoint").startsWith("https://"), "InsecureEndpoint")
        .when(col("v_endpoint").isNotNull &&
          !Connectors.isCanonical(col("v_endpoint")), "AmbiguousEndpoint")
        .when(col("v_bucket").isNotNull &&
          Connectors.breaksAuthority(col("v_bucket")), "UnsafeBucket")
        .when(rootBad, "UnsafeRoot")
        .when(col("v_fps").isNotNull &&
          !col("v_fps").isin("true", "false"), "InvalidBool")
        .when(col("op") === "replace" && immutableErr.isNotNull,
          immutableErr)
        .otherwise("Ok")

    j.withColumn("verdict", verdict).select(
      col("req_id"), col("op"), col("verdict"),
      (col("verdict") === "Ok").as("admitted"))
  }

  /** The disable/enable/remove lifecycle (reference
    * `group_backends/disable.rs:103-131`, `remove.rs:100-282`):
    *
    *  - **set_disabled**: (group, backend)-keyed read → NotFound; a record
    *    ALREADY at the target state commits WITHOUT writing (idempotent,
    *    `changed` false) — the stamp is what removal waits on, so a
    *    writer that just resolved the backend keeps its credentials;
    *  - **remove**: only a still-DISABLED record is removable (the
    *    transactional re-read makes a concurrent enable lose one of the
    *    two commits, `remove.rs:282`), and the backend must hold NO data:
    *    any blob-location row, any DeleteBlob/ReconcileWrite cleanup row,
    *    or any multipart-upload record naming it → NotRemovable
    *    (`backends_holding_data` `:118-191` — parts have no location row;
    *    the upload record covers them).
    *
    * `requests(req_id, op, group_id, backend_id, target_disabled)` with
    * op ∈ set_disabled | remove; `backends(group_id, backend_id,
    * disabled, backend)`; `holders(backend)` — the union of
    * location/cleanup/upload backends.
    *
    * Scale: the three holder scans are corpus-side in the reference; here
    * the holder set arrives pre-aggregated (a distinct-backend relation —
    * backend cardinality is config-sized) and broadcasts. */
  def lifecycle(requests: DataFrame, backends: DataFrame,
      holders: DataFrame): DataFrame = {
    val probe = requests.select("group_id", "backend_id").distinct()
    val hits = backends.join(broadcast(probe), Seq("group_id", "backend_id"))
      .select(col("group_id"), col("backend_id"), col("disabled"),
        col("backend"))
    val holding = holders.select(col("backend"),
      lit(true).as("holds")).distinct()
    val j = requests
      .join(broadcast(hits), Seq("group_id", "backend_id"), "left")
      .join(broadcast(holding), Seq("backend"), "left")
    val found = col("disabled").isNotNull
    val verdict =
      when(col("op") === "set_disabled",
        when(!found, "NotFound").otherwise("Ok"))
        .otherwise( // remove
          when(!found || !col("disabled") ||
            coalesce(col("holds"), lit(false)), "NotRemovable")
            .otherwise("Ok"))
    val ok = col("verdict") === "Ok"
    j.withColumn("verdict", verdict).select(
      col("req_id"), col("op"), col("verdict"),
      when(ok && col("op") === "set_disabled",
        col("disabled") =!= col("target_disabled")).as("changed"),
      when(ok && col("op") === "set_disabled", col("target_disabled"))
        .as("disabled_out"),
      (ok && col("op") === "remove").as("removed"))
  }
}
