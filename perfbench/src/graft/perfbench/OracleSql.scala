package graft.perfbench

/** Prints the DuckDB oracle SQL of the named registered queries as one
  * JSON object; derive_expected.py feeds it to DuckDB.
  * Usage: graft.perfbench.OracleSql query ...
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json(graft.SparkEntry.oracleSql.filter { case (k, _) => args.contains(k) }))
}
