package perfbench

/** Prints the DuckDB oracle SQL of the named gates as one JSON object. */
object OracleSql {
  def main(names: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = new java.util.LinkedHashMap[String, String]()
    names.foreach(n => m.put(n, sql(n)))
    println(mapper.writeValueAsString(m))
  }
}
