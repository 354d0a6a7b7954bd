package graft

import org.apache.spark.sql.functions._

class CoreQueriesSpec extends SparkSpec {

  test("every declared query runs on sf0.001 and has an oracle or is rows-only") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      val n = df.count()
      Caches.release()
      withClue(s"$name returned no rows: ") { assert(n > 0, name) }
    }
  }

  test("every oracle key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q1 groups by (returnflag, linestatus) with exact decimal sums") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf0001)
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
      "avg_disc", "count_order"))
    val rows = df.collect()
    assert(rows.length >= 2 && rows.length <= 6)
    // exactness cross-check: sum_qty equals a direct decimal sum
    val direct = Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") <= lit("2000-12-01"))
      .agg(Tables.dsum(col("l_quantity"))).head.getDouble(0)
    assert(math.abs(rows.map(_.getDouble(2)).sum - direct) < 1e-9)
  }

  test("q7 returns exactly one row per customer with orders") {
    val df = SparkEntry.queries("q7_latest_order")(spark, sf0001)
    val nCust = Tables.orders(spark, sf0001).select("o_custkey").distinct().count()
    assert(df.count() == nCust)
  }

  test("q12 pagination window is deterministic") {
    val a = SparkEntry.queries("q12_page_offset")(spark, sf0001).collect()
    val b = SparkEntry.queries("q12_page_offset")(spark, sf0001).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 10)
  }

  test("q9 minus: no result customer has an open order") {
    val res = SparkEntry.queries("q9_minus_anti")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val open = Tables.orders(spark, sf0001)
      .filter(col("o_totalprice") > 450000)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(res.intersect(open).isEmpty)
  }

  test("skew join: hybrid on a genuinely skewed stream equals the plain join") {
    import graft.relational.SkewJoin
    // one pathological key carrying 50k of 55k rows + a uniform tail
    val hotRows = spark.range(50000).select(lit(7L).as("k"), col("id").as("rid"))
    val tail = spark.range(5000).select((col("id") % 100 + 100).as("k"),
      (col("id") + 50000).as("rid"))
    val fact = hotRows.unionByName(tail)
    val dim = spark.range(300).select(col("id").as("dk"),
      concat(lit("v"), col("id")).as("dv"))
    val hot = SkewJoin.hotKeysByCount(fact, "k", 1000L)
    assert(hot.collect().map(_.getLong(0)).toSeq == Seq(7L), "only key 7 is hot")
    val hybrid = SkewJoin.hybrid(fact, "k", col("rid"), dim, "dk", hot, 16)
      .groupBy("dv").agg(count(lit(1)).as("n"), sum("rid").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val plain = fact.join(dim, col("k") === col("dk"))
      .groupBy("dv").agg(count(lit(1)).as("n"), sum("rid").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(hybrid == plain)
    // the hot key's rows really spread: every salt bucket is populated
    val spread = fact.filter(col("k") === 7)
      .select((col("rid") % 16).as("salt")).distinct().count()
    assert(spread == 16)
  }
}
