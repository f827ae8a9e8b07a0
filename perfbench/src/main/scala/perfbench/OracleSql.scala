package perfbench

/** Prints the engine's DuckDB oracle for the 8-model DAG (q25), which the
  * benchmark runs over its generated star to check every `final_pull`. */
object OracleSql {
  def main(args: Array[String]): Unit =
    print(graft.queries.DagQueries.oracles("q25_e2e_dag"))
}
