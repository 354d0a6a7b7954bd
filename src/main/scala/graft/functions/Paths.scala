package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Path predicates and listing clamps from the reference API layer. */
object Paths {

  def normalize(p: String): String = {
    val s = ("/" + p).replaceAll("/+", "/")
    if (s.length > 1 && s.endsWith("/")) s.dropRight(1) else s
  }

  /** Key sanitation (`ensure_confined_relative_path`, blob.rs:25-51): reject
    * absolute paths, parent (`..`) segments and all ISO control chars
    * (C0 + DEL + C1). `.` segments and duplicate separators are allowed and
    * collapse away, matching the reference's Path-component semantics. */
  def isConfinedRelativePath(key: String): Boolean =
    key.nonEmpty &&
      !key.startsWith("/") &&
      !key.exists(c => Character.isISOControl(c)) &&
      key.split("/", -1).forall(seg => seg != "..") &&
      key.split("/", -1).exists(seg => seg.nonEmpty && seg != ".")

  /** [[isConfinedRelativePath]] as a pure codegen'd Column (no UDF): the
    * object-key validation on a request-batch scan must stay inside
    * whole-stage codegen. The "has a real segment" arm ("exists seg ∉
    * {'', '.'}") is the lookahead-free regex `(^|/)(\.[^/]+|[^/.][^/]*)(/|$)`
    * — a segment either not starting with a dot, or a dot followed by more
    * (".." is already rejected by the traversal arm) — so the same pattern
    * runs under Java regex AND DuckDB's RE2. Equivalence with the Scala
    * predicate is pinned by PathsSpec. */
  def confinedKeyCol(key: Column): Column =
    (length(key) > 0) &&
      !key.startsWith("/") &&
      !key.rlike("[\\x00-\\x1f\\x7f\\x80-\\x9f]") &&
      !concat(lit("/"), key, lit("/")).contains("/../") &&
      key.rlike("(^|/)(\\.[^/]+|[^/.][^/]*)(/|$)")

  /** Metadata listing page clamps (`api.rs:67-75`): default 50, max 1000,
    * anonymous callers capped at 100. */
  def clampListingPage(requested: Option[Int], anonymous: Boolean): Int = {
    val base = requested.getOrElse(50)
    val cap = if (anonymous) 100 else 1000
    math.min(math.max(base, 1), cap)
  }

  /** Count estimates only for browse-size pages (`api.rs:73-75`). */
  val EstimateMinLimit = 24
  def shouldEstimateCount(limit: Int): Boolean = limit >= EstimateMinLimit
}
