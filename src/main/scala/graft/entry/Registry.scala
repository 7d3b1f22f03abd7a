package graft
package entry

/**
 * The declared queries of every family, indexed once per JVM by name.
 * `SparkEntry.queries` and `SparkEntry.oracleSql` are views of it.
 *
 * Each family module declares a query once, with its builder and its
 * DuckDB-runnable oracle SQL side by side. Oracle-parity rules used
 * throughout:
 *  - identical double arithmetic (same op order) on both sides — derived
 *    point coordinates are pure integer ops + one exact int→double cast;
 *  - no order-sensitive floating aggregation in compared outputs (sums only
 *    over integer-valued doubles; ranks instead of raw scores);
 *  - ints cast to BIGINT on both sides; stable ORDER BY on a unique key;
 *  - double literals in E-notation via `Fixtures.dl` (DuckDB parses plain
 *    decimals as DECIMAL); DuckDB `CAST(double AS INT)` rounds, so truncate
 *    with `trunc`; `list_sum`/`list_reduce` fold sequentially and bit-match
 *    Scala folds; 64-bit wrap multiplies go through HUGEINT 32-bit limbs
 *    (`Fixtures.WrapSql`).
 */
private[graft] object Registry {

  /** Name → query; fails naming every name declared more than once. */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val repeated = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }

  lazy val byName: Map[String, Query] = index(
    RelationalQueries.all ++ SpatialJoinQueries.all ++ OverlayQueries.all ++
      GeometryQueries.all ++ ProjectionQueries.all ++ PolyhedralQueries.all ++
      GridQueries.all ++ MediaQueries.all ++ DocumentQueries.all ++ ReaderQueries.all)
}
