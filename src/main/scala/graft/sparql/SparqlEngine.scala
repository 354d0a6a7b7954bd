package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** Public SPARQL entry point: text → guarded parse → compiled DataFrame.
  *
  * Mirrors the reference's query lifecycle (SURVEY §3.1) minus the transport:
  * guards (`api.rs:1972-2006`), authorization scoping via a visible-graphs
  * semi-join applied *before* evaluation (`handle.rs:4675-4698` — the
  * dominant partition-pruning step), evaluation, then the distributed-merge
  * result contract (`api.rs:2911-2959`): SELECT results are capped at
  * min(LIMIT, 10_000) rows; ASK is any-true.
  */
object SparqlEngine {

  val MaxResultRows = 10000L // handle.rs:95

  /** Evaluate a SELECT query; returns flattened columns (one per projected
    * variable: lexical value, or the plain value for BIND/aggregates). */
  def select(quads: DataFrame, sparql: String, cap: Boolean = false,
      defaultGraph: Option[DataFrame] = None): DataFrame = {
    ExprCompiler.newQueryScope() // NOW()/BNODE() per-query constancy
    val q = SparqlParser.parse(sparql)
    require(q.form == "select", s"expected SELECT, got ${q.form}")
    val pattern =
      if (q.aggregates.nonEmpty || q.groupKeys.nonEmpty)
        PGroup(q.pattern, q.groupKeys, q.aggregates)
      else q.pattern
    var df = Compiler.compile(quads, pattern, defaultGraph)
    q.having.foreach(h => df = df.filter(ExprCompiler.toBool(h, ExprCompiler.resolve(df))))
    val projVars: Seq[String] =
      if (q.projection.nonEmpty) q.projection
      else df.columns.toSeq.filterNot(_.startsWith("__"))
    // ORDER BY may reference non-projected vars, so sort before projecting
    // (unless DISTINCT, which per SPARQL restricts ordering to projected vars)
    if (q.distinct) {
      df = df.select(projVars.map(df(_)): _*).dropDuplicates()
      if (q.orderBy.nonEmpty) df = df.orderBy(q.orderBy.flatMap(sortCols(df, _)): _*)
    } else {
      if (q.orderBy.nonEmpty) df = df.orderBy(q.orderBy.flatMap(sortCols(df, _)): _*)
      df = df.select(projVars.map(df(_)): _*)
    }
    q.offset.foreach(o => df = df.offset(o.toInt))
    val effLimit: Option[Long] =
      if (cap) Some(math.min(q.limit.getOrElse(MaxResultRows), MaxResultRows))
      else q.limit
    effLimit.foreach(l => df = df.limit(l.toInt))
    flatten(df)
  }

  /** ASK: true iff the pattern has at least one solution. Distributed merge
    * = any-true (`api.rs:2917-2921`). The pattern is evaluated here, by one
    * `limit(1)` collect that stops at the first solution; the result is a
    * one-row local frame with the boolean column `ask`. */
  def ask(quads: DataFrame, sparql: String,
      defaultGraph: Option[DataFrame] = None): DataFrame = {
    ExprCompiler.newQueryScope()
    val q = SparqlParser.parse(sparql)
    require(q.form == "ask", s"expected ASK, got ${q.form}")
    val pattern = Compiler.compile(quads, q.pattern, defaultGraph)
    // a limit at the root of a collect plans as CollectLimitExec, which is
    // not code-generated: a mid-plan limit's generated counter is named per
    // call (`_limit_counter_<id>`) and compiles new classes on every ASK
    val any = pattern.select().limit(1).collect().nonEmpty
    pattern.sparkSession.createDataFrame(java.util.List.of(Row(any)), AskSchema)
  }

  private val AskSchema = StructType(Seq(StructField("ask", BooleanType, nullable = false)))

  /** Restrict quads to the caller-visible graphs *before* evaluation — the
    * reference's eager scope selection. `visible` must have a `graph_iri`
    * column. */
  def scoped(quads: DataFrame, visible: DataFrame): DataFrame =
    quads.join(broadcast(visible.select("graph_iri").distinct()), Seq("graph_iri"), "left_semi")

  val MaxResultBytes: Long = 8L * 1024 * 1024 // handle.rs:96

  /** Collect with the reference's result caps enforced post-hoc
    * (`collect_metadata_query_results`, handle.rs:5023-5069): at most 10k
    * rows AND 8 MiB of serialized solutions; returns (rows, truncated).
    * Streams partitions through `toLocalIterator` so the driver never holds
    * more than the capped result plus one partition in flight. */
  def collectCapped(df: DataFrame): (Seq[org.apache.spark.sql.Row], Boolean) = {
    val it = df.limit(MaxResultRows.toInt + 1).toLocalIterator()
    var bytes = 0L
    var n = 0L
    var truncated = false
    val out = Seq.newBuilder[org.apache.spark.sql.Row]
    while (it.hasNext && !truncated) {
      val r = it.next()
      if (n >= MaxResultRows) truncated = true
      else {
        bytes += rowBytes(r)
        if (bytes > MaxResultBytes) truncated = true
        else { out += r; n += 1 }
      }
    }
    (out.result(), truncated)
  }

  private def rowBytes(r: org.apache.spark.sql.Row): Long =
    r.toSeq.map {
      case null => 4L
      case s: String => s.getBytes("UTF-8").length.toLong
      case b: Array[Byte] => b.length.toLong
      case seq: scala.collection.Seq[_] => 16L + 16L * seq.length
      case inner: org.apache.spark.sql.Row => rowBytes(inner)
      case _: java.lang.Double | _: java.lang.Long => 8L
      case other => other.toString.getBytes("UTF-8").length.toLong
    }.sum

  private[sparql] def sortCols(df: DataFrame, k: OrderKey): Seq[Column] = {
    def dir(c: Column) = if (k.asc) c.asc else c.desc
    k.expr match {
      case EVar(v) if isStruct(df, v) =>
        // numeric literals order numerically, everything else lexically;
        // regexp guard keeps the cast ANSI-safe
        val value = df(v).getField("value")
        val numKey = when(value.rlike("^-?[0-9]+(\\.[0-9]+)?$"), value.cast("double"))
        Seq(dir(numKey), dir(value))
      case EVar(v) => Seq(dir(df(v)))
      case e if ExprCompiler.infer(e) == ExprCompiler.TyNum =>
        Seq(dir(ExprCompiler.num(e, df(_))))
      case e => Seq(dir(ExprCompiler.str(e, df(_))))
    }
  }

  private def isStruct(df: DataFrame, name: String): Boolean =
    df.schema(name).dataType.isInstanceOf[StructType]

  /** Struct term columns → lexical value strings; plain columns unchanged. */
  private def flatten(df: DataFrame): DataFrame =
    df.select(df.columns.map { c =>
      if (df.schema(c).dataType.isInstanceOf[StructType])
        df(c).getField("value").as(c)
      else df(c)
    }.toIndexedSeq: _*)
}
