package perfbench

/** Prints the DuckDB oracle SQL of the 8-model DAG (q25_e2e_dag), which the
  * runner evaluates over the generated star to check every final_pull. */
object OracleSql {
  def main(args: Array[String]): Unit =
    print(graft.queries.DagQueries.oracles("q25_e2e_dag"))
}
