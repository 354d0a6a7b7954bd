package graft.catalog

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User identity merging over the OIDC subject index (reference
  * `operations/src/user_subject_index.rs:120-300`,
  * `ResolveUserSubjectConflictsOperation`).
  *
  * The reference resolves ONE user's conflicts per document-sync event: users
  * the subject index names for any of the user's subjects, in the SAME realm,
  * merge into a canonical user = the smallest conflicting `user_id`; the
  * canonical absorbs the union of every candidate's `subject_ids` and
  * `alias_user_ids`, every losing id becomes an alias, and the canonical id
  * is removed from its own alias set (`build_resolution`). Applying that rule
  * event-by-event until no conflicts remain converges on the connected
  * components of the subject-sharing graph — which is what this batch
  * operator computes directly: min-id canonical per component, unioned
  * subjects, aliases = planted aliases ∪ loser ids − canonical.
  *
  * Scale shape: conflict edges are STAR edges to each (realm, subject)
  * group's min member — linear in the subject index, never the within-group
  * pair product — and the component fold is [[Dedup.dedupComponents]]
  * (min-label propagation, rounds = component diameter; identity-merge
  * components are account-sized by contract). One aggregation per output
  * facet; nothing quadratic.
  */
object Identity {

  /** `subjects(user_id, realm, subject)` (the user→subject index, one row
    * per binding), `aliases(user_id, alias_id)` (pre-existing alias edges).
    * Output per canonical user: (realm, canonical_id, n_members,
    * members_csv, subjects_csv, aliases_csv) — csv columns sorted so the
    * relation is deterministic. Unconflicted users appear as singleton
    * components (the no-conflict path keeps the user as-is). */
  def subjectMerge(subjects: DataFrame, aliases: DataFrame): DataFrame = {
    // conflict rule (user_subject_index.rs:180-186): same subject AND same
    // realm; star edges to the group min keep it linear
    val grpMin = subjects.groupBy(col("realm"), col("subject"))
      .agg(min(col("user_id")).as("a"))
    val edges = subjects.join(grpMin, Seq("realm", "subject"))
      .filter(col("user_id") =!= col("a"))
      .select(col("a"), col("user_id").as("b")).distinct()

    val labels = Dedup.dedupComponents(edges)
      .select(col("doc_id").as("user_id"), col("canonical_id"))
    val allUsers = subjects.select(col("user_id"), col("realm")).distinct()
    // `lab` feeds four consumers (members, the subject roll-up, both alias
    // arms) — persist the small (user, realm, canonical) relation so the
    // distinct + label join run once
    val lab = allUsers.join(labels, Seq("user_id"), "left_outer")
      .withColumn("canonical_id",
        coalesce(col("canonical_id"), col("user_id")))
      .persist()
    graft.Caches.track(lab)

    val members = lab.groupBy(col("realm"), col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", sort_array(collect_set(col("user_id"))))
          .as("members_csv"))
    val subj = subjects.join(lab.select(col("user_id"), col("canonical_id")),
        Seq("user_id"))
      .groupBy(col("realm"), col("canonical_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("subject"))))
        .as("subjects_csv"))
    // alias union: planted aliases of every member + loser member ids,
    // minus the canonical id itself (build_resolution's final remove)
    val aliasRows = aliases
      .join(lab.select(col("user_id"), col("canonical_id")), Seq("user_id"))
      .select(col("canonical_id"), col("alias_id"))
      .unionByName(lab.filter(col("user_id") =!= col("canonical_id"))
        .select(col("canonical_id"), col("user_id").as("alias_id")))
      .filter(col("alias_id") =!= col("canonical_id"))
    val al = aliasRows.groupBy(col("canonical_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("alias_id"))))
        .as("aliases_csv"))

    members.join(subj, Seq("realm", "canonical_id"))
      .join(al, Seq("canonical_id"), "left_outer")
      .withColumn("aliases_csv", coalesce(col("aliases_csv"), lit("")))
      .select(col("realm"), col("canonical_id"), col("n_members"),
        col("members_csv"), col("subjects_csv"), col("aliases_csv"))
  }

  /** The rewritten subject index (`rewrite_subject_index_effects`,
    * `user_subject_index.rs:414`): every subject points at its component's
    * canonical user; entries that already did are no-ops. */
  def subjectIndexRewrite(subjects: DataFrame, merged: DataFrame): DataFrame =
    subjects.join(
        merged.select(col("realm"), col("canonical_id"),
          explode(split(col("members_csv"), ",")).as("user_id")),
        Seq("realm", "user_id"))
      .select(col("realm"), col("subject"), col("canonical_id")).distinct()
}
