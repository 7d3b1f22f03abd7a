package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the builder that returns its DataFrame for
 * `(session, sfDir)`, and its DuckDB oracle SQL. The oracle is kept
 * unevaluated, so declaring and indexing queries builds no SQL. */
private[graft] final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String)

private[graft] object Query {

  /** `query("q_x")((s, dir) => …)("""SELECT …""")`: the builder and its
   * oracle side by side; the oracle argument is taken by name. */
  def query(name: String)(build: (SparkSession, String) => DataFrame)(oracle: => String): Query =
    Query(name, build, () => oracle)
}
