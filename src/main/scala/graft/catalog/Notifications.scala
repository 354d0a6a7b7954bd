package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Notification-inbox read operators (reference
  * `operations/src/notifications/{unread,list}.rs`). The inbox keyspace is
  * keyed `(recipient, u64::MAX − created_at_ms, notification_id)`
  * (`core/src/structs/notification.rs:232-246`), so every scan runs NEWEST
  * FIRST with the notification id as the ascending tie-break — the order
  * both operators below reproduce.
  */
object Notifications {

  val UnreadCountCap = 100 // unread.rs:11
  val UnreadScanMaxRows = 2000 // unread.rs:12
  val ListMaxLimit = 200 // list.rs:15

  /** Badge-style unread count per recipient, with the reference's TWO caps
    * (`unread.rs:90-140`): the count saturates at [[UnreadCountCap]] (the
    * "99+" badge — the 101st unread stops the scan with `capped`), and the
    * scan examines at most [[UnreadScanMaxRows]] rows (a mostly-read inbox
    * cannot make the badge probe unbounded; stopping with rows left also
    * reports `capped`).
    *
    * `inbox(recipient, created_at_ms, notification_id, read_at_ms)` —
    * `read_at_ms` null = unread. Output (recipient, n_unread, capped).
    *
    * Scale: the scan-window rank filter rewrites to a map-side
    * WindowGroupLimit (≤ scan-cap rows per recipient on the wire); totals
    * are a map-side partial aggregate, broadcast back. */
  def unreadCounts(inbox: DataFrame): DataFrame = {
    val totals = inbox.groupBy(col("recipient")).agg(count(lit(1)).as("total"))
    val w = Window.partitionBy("recipient")
      .orderBy(col("created_at_ms").desc, col("notification_id"))
    inbox
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= UnreadScanMaxRows)
      .groupBy(col("recipient"))
      .agg(count(when(col("read_at_ms").isNull, 1)).as("u"))
      .join(broadcast(totals), Seq("recipient"))
      .select(col("recipient"),
        least(col("u"), lit(UnreadCountCap.toLong)).as("n_unread"),
        (col("u") > UnreadCountCap || col("total") > UnreadScanMaxRows)
          .as("capped"))
  }

  val DirectTtlMs = 90L * 24 * 3600 * 1000 // notification.rs:11
  val TransientTtlMs = 30L * 24 * 3600 * 1000 // notification.rs:12
  val TransientPerUserCap = 500 // notification.rs:13

  /** Retention prune plan (`prune.rs:194-266`, `sweep_primary_keyspace`):
    * walking each recipient's inbox NEWEST first,
    *
    *  - a record past its class TTL (Direct 90 d, Transient 30 d;
    *    `expires_at_ms = created + ttl`, `notification.rs:172-174`) is
    *    `expired`;
    *  - a NON-expired Transient record beyond the recipient's 500-newest
    *    transient rank is `capped` (expired rows do not consume cap slots —
    *    the sweep counts `transient_seen` only on the non-expired branch);
    *  - everything else is `kept`.
    *
    * `inbox(recipient, created_at_ms, notification_id, class)`. Output
    * (recipient, class, verdict, n). Like the reference's sweep this is a
    * full-keyspace pass by design (GC); the rank is one running
    * conditional sum per recipient, no second shuffle. */
  def prunePlan(inbox: DataFrame, nowMs: Long): DataFrame = {
    val ttl = when(col("class") === "Direct", DirectTtlMs)
      .otherwise(TransientTtlMs)
    val base = inbox.withColumn("expired", col("created_at_ms") + ttl <= nowMs)
    // only NON-expired Transient rows need a rank (they alone contend for
    // cap slots), so only they pay the per-recipient shuffle+sort; expired
    // and Direct rows classify map-side. In the big-inbox regime most of the
    // keyspace is expired backlog — the exact rows a full-sort would waste
    // the most on.
    val freshT = base.filter(col("class") === "Transient" && !col("expired"))
    val w = Window.partitionBy("recipient")
      .orderBy(col("created_at_ms").desc, col("notification_id"))
    val ranked = freshT.withColumn("verdict",
      when(row_number().over(w) > TransientPerUserCap, "capped")
        .otherwise("kept"))
    val rest = base.filter(col("class") =!= "Transient" || col("expired"))
      .withColumn("verdict", when(col("expired"), "expired").otherwise("kept"))
    val cols = Seq(col("recipient"), col("class"), col("verdict"))
    ranked.select(cols: _*).unionByName(rest.select(cols: _*))
      .groupBy(cols: _*)
      .agg(count(lit(1)).as("n"))
  }

  val MarkReadMaxIds = 512 // mark_read.rs:18

  /** MarkRead (`mark_read.rs:129-196`): walk one recipient's inbox and
    * stamp `read_at_ms = now` on every UNREAD row that is either named by
    * id or at-or-before the `up_to_ms` watermark; already-read rows are
    * untouched (an id naming one still consumes its slot in the
    * reference's early-stop counter — observable results are identical).
    * A request naming more than [[MarkReadMaxIds]] ids fails before the
    * scan (`too_many_ids`, nothing marked).
    *
    * Batch form over request relations `reqIds(recipient,
    * notification_id)` / `reqTimes(recipient, up_to_ms)`: output one row
    * per requesting recipient — (recipient, verdict, marked,
    * unread_after). The inbox scan prunes to requesting recipients
    * (broadcast semi-join) and everything else is one recipient-keyed
    * aggregate. */
  def markRead(inbox: DataFrame, reqIds: DataFrame, reqTimes: DataFrame,
      nowMs: Long): DataFrame = {
    val idCount = reqIds.groupBy(col("recipient"))
      .agg(count(lit(1)).as("n_ids"))
    val recips = idCount.select(col("recipient"))
      .union(reqTimes.select(col("recipient"))).distinct()
    val marked = inbox
      .join(broadcast(recips), Seq("recipient"))
      .join(reqIds.withColumn("by_id", lit(true)),
        Seq("recipient", "notification_id"), "left_outer")
      .join(broadcast(reqTimes), Seq("recipient"), "left_outer")
      .withColumn("hit", coalesce(col("by_id"), lit(false)) ||
        (col("up_to_ms").isNotNull && col("created_at_ms") <= col("up_to_ms")))
      .withColumn("newly", col("read_at_ms").isNull && col("hit"))
      .groupBy(col("recipient"))
      .agg(sum(when(col("newly"), 1L).otherwise(0L)).as("would_mark"),
        sum(when(col("read_at_ms").isNull, 1L).otherwise(0L))
          .as("unread_before"))
    marked.join(broadcast(idCount), Seq("recipient"), "left_outer")
      .withColumn("n_ids", coalesce(col("n_ids"), lit(0L)))
      .withColumn("verdict",
        when(col("n_ids") > MarkReadMaxIds, "too_many_ids").otherwise("ok"))
      .withColumn("marked",
        when(col("verdict") === "ok", col("would_mark")).otherwise(0L))
      .select(col("recipient"), col("verdict"), col("marked"),
        (col("unread_before") - col("marked")).as("unread_after"))
  }

  /** Resource-event → notification fan-out (`routing.rs:37-113`).
    *
    * Pinned semantics:
    *  - `member_added`: a Direct `added_to_group` to the affected user
    *    UNLESS it was a self-add (`affected == actor`), plus a Direct
    *    `group_member_added` to every group admin EXCEPT the affected
    *    user and the actor;
    *  - `member_removed`: only the affected user is notified (again not
    *    on self-removal) — admins deliberately get nothing;
    *  - `node_onboarded`: every realm admin, no exclusions.
    *
    * Admin sets are role-name-filtered, sorted, deduped
    * (`group_admin_user_ids` / `realm_admin_user_ids`, `routing.rs:8-30`).
    *
    * Scale shape: events fan out against the ADMIN relations
    * (authorization docs — config-sized, broadcast); the event batch
    * itself never shuffles.
    *
    * `events(event_id, kind, group_id, realm_id, affected_user,
    * actor_user_id, occurred_at_ms)`;
    * `groupRoles(group_id, role_name, user_id)`;
    * `realmRoles(realm_id, role_name, user_id)`.
    */
  def routeResourceEvents(events: DataFrame, groupRoles: DataFrame,
      realmRoles: DataFrame): DataFrame = {
    val gAdmins = groupRoles.filter(col("role_name") === "admin")
      .select(col("group_id"), col("user_id")).distinct()
    val rAdmins = realmRoles.filter(col("role_name") === "realm_admin")
      .select(col("realm_id"), col("user_id")).distinct()

    val direct = events
      .filter(col("kind").isin("member_added", "member_removed") &&
        col("affected_user") =!= col("actor_user_id"))
      .select(col("event_id"),
        col("affected_user").as("recipient"),
        when(col("kind") === "member_added", "added_to_group")
          .otherwise("removed_from_group").as("notif_kind"),
        lit("Direct").as("class"), col("occurred_at_ms"))
    val adminAdds = events.filter(col("kind") === "member_added")
      .join(broadcast(gAdmins), Seq("group_id"))
      .filter(col("user_id") =!= col("affected_user") &&
        col("user_id") =!= col("actor_user_id"))
      .select(col("event_id"), col("user_id").as("recipient"),
        lit("group_member_added").as("notif_kind"),
        lit("Direct").as("class"), col("occurred_at_ms"))
    val onboarded = events.filter(col("kind") === "node_onboarded")
      .join(broadcast(rAdmins), Seq("realm_id"))
      .select(col("event_id"), col("user_id").as("recipient"),
        lit("node_onboarded").as("notif_kind"),
        lit("Direct").as("class"), col("occurred_at_ms"))
    direct.unionByName(adminAdds).unionByName(onboarded)
  }

  /** One inbox page (`list.rs:64-175`): newest first, limit clamped to
    * 1..[[ListMaxLimit]], cursor `(created_at_ms, notification_id)` resumes
    * STRICTLY AFTER in key order (older timestamp, or same timestamp and a
    * larger id — the inverted-timestamp encoding makes both one byte-wise
    * `>`), truncation detected by the reference's limit+1 look-ahead
    * ([[Listing.page]]) and the next cursor is the LAST RETURNED row's
    * identity.
    *
    * Output rows: (created_at_ms, notification_id, read, is_truncated,
    * next_cursor_ts, next_cursor_id) — the cursor trailer repeats on every
    * row of the page, like the other paged listings here. */
  def listPage(inbox: DataFrame, recipient: String, cursorTs: Option[Long],
      cursorId: Option[String], limit: Int): DataFrame = {
    val lim = limit.max(1).min(ListMaxLimit)
    val afterCursor = (cursorTs, cursorId) match {
      case (Some(ts), Some(id)) =>
        col("created_at_ms") < ts ||
          (col("created_at_ms") === ts && col("notification_id") > id)
      case _ => lit(true)
    }
    Listing.page(inbox.filter(col("recipient") === recipient && afterCursor),
      Seq(col("created_at_ms").desc, col("notification_id")), lim,
      cursor = Seq("next_cursor_ts" -> col("created_at_ms"),
        "next_cursor_id" -> col("notification_id")))
      .select(col("created_at_ms"), col("notification_id"),
        col("read_at_ms").isNotNull.as("read"),
        col("is_truncated"), col("next_cursor_ts"), col("next_cursor_id"))
  }
}
