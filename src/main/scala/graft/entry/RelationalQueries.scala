package graft
package entry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.functions.GraftFunctions._
import graft.operators._

/**
 * Relational core: filter, project, uniq, sort, calc, classify and the
 * attribute joins (SURVEY §2.2/2.3/2.4).
 */
private[graft] object RelationalQueries {

  val all: Seq[Query] = Seq(
    query("q_filter")((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber"))(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 30 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    query("q_project_rename")((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey").as("pk"),
        col("p_type").as("ptype"),
        (col("p_retailprice") * 2.0).as("double_price"))
        .orderBy("pk"))(
      """SELECT p_partkey AS pk, p_type AS ptype, p_retailprice * 2.0 AS double_price
        |FROM part ORDER BY pk""".stripMargin),

    query("q_uniq")((s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data — add
      // l_partkey to the ordering so the kept row is deterministic.
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("l_partkey"))
      t(s, dir, "lineitem")
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber").cast("long").as("l_linenumber"))
        .orderBy("l_orderkey")
    })(
      """SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),

    // -calc first= / last= (document order = deterministic key order)
    query("q_calc_firstlast")((s, dir) => {
      val k = (col("l_orderkey") * 8 + col("l_linenumber")) * 100000 + col("l_partkey")
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(min_by(col("l_extendedprice"), k).as("first_price"),
          max_by(col("l_extendedprice"), k).as("last_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    })(
      """SELECT l_returnflag,
        |  min_by(l_extendedprice, (l_orderkey * 8 + l_linenumber) * 100000 + l_partkey) AS first_price,
        |  max_by(l_extendedprice, (l_orderkey * 8 + l_linenumber) * 100000 + l_partkey) AS last_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -calc sums= + collectIds=: element-wise array sums (the Graft.calcSums
    // posexplode/reassemble pipeline) over an integer-valued array field —
    // order-independent exact sums — plus canonical-order id collection
    // summarized as (count, min, max, sum) for the cell compare
    query("q_calc_sums")((s, dir) => {
      val rows = points(s, dir)
        .withColumn("g", (col("id") % 5).cast("long"))
        .withColumn("v", array(floor(col("x") * 1000.0), floor(col("y") * 1000.0),
          col("id").cast("double")))
      val sums = Graft.calcSums(rows, "g", "v")
        .select(col("g"),
          element_at(col("sums"), 1).cast("long").as("s_x"),
          element_at(col("sums"), 2).cast("long").as("s_y"),
          element_at(col("sums"), 3).cast("long").as("s_id"))
      val ids = Graft.calcCollectIds(rows, "g", "id")
        .select(col("g"), size(col("ids")).cast("long").as("n_ids"),
          element_at(col("ids"), 1).as("id_min"),
          element_at(col("ids"), -1).as("id_max"))
      sums.join(ids, "g").orderBy("g")
    })(
      // element-wise array sums over integer-valued doubles are exact in any
      // order; collectIds summarized by count/min/max
      s"""WITH $ptsSql
         |SELECT id % 5 AS g,
         |  CAST(sum(floor(x * 1000.0)) AS BIGINT) AS s_x,
         |  CAST(sum(floor(y * 1000.0)) AS BIGINT) AS s_y,
         |  CAST(sum(id) AS BIGINT) AS s_id,
         |  count(*) AS n_ids,
         |  min(id) AS id_min,
         |  max(id) AS id_max
         |FROM pts GROUP BY id % 5 ORDER BY g""".stripMargin),

    // -o precision=: coordinate rounding at export (round-to-increment with
    // the reference's floor(x*inv + 0.5)/inv arithmetic) — exact mirror
    query("q_precision")((s, dir) =>
      points(s, dir).select(col("id"),
          floor(roundCoord(col("x"), 0.25) * 1000000.0).cast("long").as("rx_int"),
          floor(roundCoord(col("y") - 50.0, 0.25) * 1000000.0).cast("long").as("ry_int"),
          floor(roundCoord(col("x"), 0.001) * 1000000.0).cast("long").as("rx3_int"))
        .orderBy("id")) {
      // ES Math.round: floor(x) + (frac >= 0.5), computed without the
      // floor(x+0.5) double-round; exact on both sides (y - 50 exercises the
      // negative-halves branch where DuckDB's round() would differ)
      def r(e: String, inv: String): String =
        s"(CASE WHEN ($e) * $inv - floor(($e) * $inv) >= 0.5 " +
          s"THEN floor(($e) * $inv) + 1.0 ELSE floor(($e) * $inv) END / $inv)"
      s"""WITH $ptsSql
         |SELECT id,
         |  CAST(floor(${r("x", "4.0")} * 1000000.0) AS BIGINT) AS rx_int,
         |  CAST(floor(${r("y - 50.0", "4.0")} * 1000000.0) AS BIGINT) AS ry_int,
         |  CAST(floor(${r("x", "1000.0")} * 1000000.0) AS BIGINT) AS rx3_int
         |FROM pts ORDER BY id""".stripMargin
    },

    // -uniq max_count=2 invert: the rows REMOVED by a keep-2 dedupe
    query("q_uniq_invert")((s, dir) =>
      Uniq(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_linenumber"), col("l_partkey")), maxCount = 2, invert = true)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_linenumber").cast("long").as("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey"))(
      """SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
        |  FROM lineitem) WHERE rn > 2
        |ORDER BY l_orderkey, l_linenumber, l_partkey""".stripMargin),

    // -uniq index: keep everything, annotate the 1-based occurrence index
    query("q_uniq_index")((s, dir) =>
      Uniq(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_linenumber"), col("l_partkey")), index = true)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("index").cast("long").as("occ"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey"))(
      """SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS BIGINT) AS occ
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey""".stripMargin),

    query("q_sort")((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"), col("l_extendedprice"))
        .limit(100))(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),

    query("q_calc_global")((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        avg(col("l_quantity")).as("avg_qty"),
        median(col("l_quantity")).as("med_qty")))(
      """SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  avg(l_quantity) AS avg_qty, median(l_quantity) AS med_qty
        |FROM lineitem""".stripMargin),

    query("q_calc_group")((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          bool_and(col("l_quantity") > 10.0).as("all_gt10"),
          bool_or(col("l_discount") > 0.09).as("any_disc"))
        .orderBy("l_returnflag", "l_linestatus"))(
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  bool_and(l_quantity > 10.0) AS all_gt10, bool_or(l_discount > 0.09) AS any_disc
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    query("q_mode")((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("c").desc, col("l_quantity"))
      counts.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
        .orderBy("l_returnflag")
    })(
      """SELECT l_returnflag, mode_qty FROM (
        |  SELECT l_returnflag, l_quantity AS mode_qty,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY c DESC, l_quantity) AS rn
        |  FROM (SELECT l_returnflag, l_quantity, count(*) AS c
        |        FROM lineitem GROUP BY l_returnflag, l_quantity))
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin),

    query("q_attr_join")((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("o_orderkey")
    })(
      """SELECT o_orderkey, o_custkey, c_name, c_acctbal
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    query("q_join_sum_fields")((s, dir) => {
      val li = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("_sq"), count(lit(1)).as("_n"))
      t(s, dir, "part")
        .join(li, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"),
          coalesce(col("_sq"), lit(0.0)).as("sum_qty"),
          coalesce(col("_n"), lit(0L)).as("n_matches"))
        .orderBy("p_partkey")
    })(
      """SELECT p_partkey, COALESCE(_sq, 0.0) AS sum_qty, COALESCE(_n, 0) AS n_matches
        |FROM part LEFT JOIN (
        |  SELECT l_partkey, sum(l_quantity) AS _sq, count(*) AS _n
        |  FROM lineitem GROUP BY l_partkey) ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin),

    query("q_join_duplication")((s, dir) => {
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"))
        .select(col("p_partkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("p_brand"))
        .orderBy("p_partkey", "l_orderkey", "l_linenumber")
    })(
      """SELECT p_partkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, p_brand
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |ORDER BY p_partkey, l_orderkey, l_linenumber""".stripMargin),

    query("q_join_unmatched")((s, dir) => {
      val c = t(s, dir, "customer")
      // every customer has some order, so anti-join the fulfilled ones only
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    })(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    query("q_join_calc")((s, dir) => {
      val agg = t(s, dir, "orders").groupBy(col("o_custkey")).agg(
        count(lit(1)).as("_n"),
        max(col("o_totalprice")).as("_mx"),
        countDistinct(col("o_orderstatus")).as("_ns"))
      t(s, dir, "customer")
        .join(agg, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("_n"), lit(0L)).as("n_orders"),
          col("_mx").as("max_price"),
          coalesce(col("_ns"), lit(0L)).as("n_status"))
        .orderBy("c_custkey")
    })(
      """SELECT c_custkey, COALESCE(_n, 0) AS n_orders, _mx AS max_price,
        |  COALESCE(_ns, 0) AS n_status
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS _n, max(o_totalprice) AS _mx,
        |         count(DISTINCT o_orderstatus) AS _ns
        |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // -classify: equal-interval classification of a numeric field
    query("q_classify")((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          Points.classify(col("p_retailprice"), 900.0, 100.0, 10).as("bin"))
        .orderBy("p_partkey"))(
      """SELECT p_partkey,
        |  CAST(least(greatest(floor((p_retailprice - 900.0) / 100.0), 0), 9) AS BIGINT) AS bin
        |FROM part ORDER BY p_partkey""".stripMargin),

    // -merge-layers: schema-aligned union of two layers
    query("q_merge_layers")((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey").as("key"),
        col("c_name").as("name"), lit("customer").as("layer"))
      val b = t(s, dir, "supplier").select(col("s_suppkey").as("key"),
        col("s_name").as("name"), lit("supplier").as("layer"))
      a.unionByName(b).orderBy("layer", "key")
    })(
      """SELECT * FROM (
        |  SELECT c_custkey AS key, c_name AS name, 'customer' AS layer FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, s_name AS name, 'supplier' AS layer FROM supplier)
        |ORDER BY layer, key""".stripMargin),

    // -calc quantile/iqr/quartiles: exact interpolated percentiles
    query("q_quantiles")((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q1"),
          expr("percentile(l_quantity, 0.5)").as("q2"),
          expr("percentile(l_quantity, 0.75)").as("q3"),
          (expr("percentile(l_quantity, 0.75)") - expr("percentile(l_quantity, 0.25)")).as("iqr"))
        .orderBy("l_returnflag"))(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q1,
        |  quantile_cont(l_quantity, 0.5) AS q2,
        |  quantile_cont(l_quantity, 0.75) AS q3,
        |  quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -calc collect: order-insensitive list aggregation
    query("q_collect")((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
        .orderBy("l_returnflag"))(
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
        |  count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -split expression= : tag rows with the split layer (scale path:
    // write.partitionBy(layer)); verified via per-layer aggregates
    query("q_split_expr")((s, dir) =>
      Split.byExpression(t(s, dir, "part"), col("p_brand"))
        .groupBy("layer")
        .agg(count(lit(1)).as("n"), sum(col("p_partkey")).as("key_sum"))
        .orderBy("layer"))(
      """SELECT p_brand AS layer, count(*) AS n, CAST(sum(p_partkey) AS BIGINT) AS key_sum
        |FROM part GROUP BY p_brand ORDER BY layer""".stripMargin),

    // -info: per-column stats in one aggregation
    query("q_info")((s, dir) =>
      Info.describe(s, t(s, dir, "part"), Seq("p_partkey", "p_brand", "p_type"))
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name"))(
      """SELECT * FROM (
        |  SELECT 'p_partkey' AS col_name, 'bigint' AS dtype, count(p_partkey) AS n,
        |    count(*) - count(p_partkey) AS n_null,
        |    CAST(min(p_partkey) AS VARCHAR) AS min_s, CAST(max(p_partkey) AS VARCHAR) AS max_s
        |  FROM part
        |  UNION ALL
        |  SELECT 'p_brand', 'string', count(p_brand), count(*) - count(p_brand),
        |    CAST(min(p_brand) AS VARCHAR), CAST(max(p_brand) AS VARCHAR) FROM part
        |  UNION ALL
        |  SELECT 'p_type', 'string', count(p_type), count(*) - count(p_type),
        |    CAST(min(p_type) AS VARCHAR), CAST(max(p_type) AS VARCHAR) FROM part)
        |ORDER BY col_name""".stripMargin),

    // -classify method=quantile: exact reference break semantics
    // (ascending[floor(i*n/numRanges)]) via distributed rank-select
    query("q_classify_quantile")((s, dir) => {
      val part = t(s, dir, "part")
      val breaks = Classify.quantileBreaks(s, part, "p_retailprice", numBreaks = 4)
      part.select(col("p_partkey"),
          Classify.classId(col("p_retailprice"), breaks).cast("long").as("cls"))
        .orderBy("p_partkey")
    })(
      """WITH asc0 AS (SELECT p_retailprice AS v,
        |  row_number() OVER (ORDER BY p_retailprice) - 1 AS rnk,
        |  count(*) OVER () AS n FROM part),
        |brk AS (SELECT
        |  max(CASE WHEN rnk = CAST(floor(1.0 * (CAST(n AS DOUBLE) / 5.0)) AS BIGINT) THEN v END) AS b1,
        |  max(CASE WHEN rnk = CAST(floor(2.0 * (CAST(n AS DOUBLE) / 5.0)) AS BIGINT) THEN v END) AS b2,
        |  max(CASE WHEN rnk = CAST(floor(3.0 * (CAST(n AS DOUBLE) / 5.0)) AS BIGINT) THEN v END) AS b3,
        |  max(CASE WHEN rnk = CAST(floor(4.0 * (CAST(n AS DOUBLE) / 5.0)) AS BIGINT) THEN v END) AS b4
        |  FROM asc0)
        |SELECT p_partkey, CAST(
        |  (CASE WHEN p_retailprice >= b1 THEN 1 ELSE 0 END) +
        |  (CASE WHEN p_retailprice >= b2 THEN 1 ELSE 0 END) +
        |  (CASE WHEN p_retailprice >= b3 THEN 1 ELSE 0 END) +
        |  (CASE WHEN p_retailprice >= b4 THEN 1 ELSE 0 END) AS BIGINT) AS cls
        |FROM part CROSS JOIN brk ORDER BY p_partkey""".stripMargin),

    // -classify method=hybrid: quantile outer buckets + equal-interval inner
    query("q_classify_hybrid")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val breaks = Classify.hybridBreaks(s, li, "l_extendedprice", numBreaks = 5)
      li.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          Classify.classId(col("l_extendedprice"), breaks).cast("long").as("cls"))
        .orderBy("l_orderkey", "l_linenumber", "cls")
    })(
      """WITH asc0 AS (SELECT l_extendedprice AS v,
        |  row_number() OVER (ORDER BY l_extendedprice) - 1 AS rnk,
        |  count(*) OVER () AS n FROM lineitem),
        |qb AS (SELECT
        |  max(CASE WHEN rnk = CAST(floor(1.0 * (CAST(n AS DOUBLE) / 6.0)) AS BIGINT) THEN v END) AS q1,
        |  max(CASE WHEN rnk = CAST(floor(5.0 * (CAST(n AS DOUBLE) / 6.0)) AS BIGINT) THEN v END) AS q5
        |  FROM asc0),
        |mm AS (SELECT min(v) AS mn, max(v) AS mx
        |  FROM asc0 CROSS JOIN qb WHERE v >= q1 AND v < q5),
        |brk AS (SELECT q1 AS b1,
        |  mn + 1.0 * ((mx - mn) / 4.0) AS b2,
        |  mn + 2.0 * ((mx - mn) / 4.0) AS b3,
        |  mn + 3.0 * ((mx - mn) / 4.0) AS b4,
        |  q5 AS b5 FROM qb CROSS JOIN mm)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, CAST(
        |  (CASE WHEN l_extendedprice >= b1 THEN 1 ELSE 0 END) +
        |  (CASE WHEN l_extendedprice >= b2 THEN 1 ELSE 0 END) +
        |  (CASE WHEN l_extendedprice >= b3 THEN 1 ELSE 0 END) +
        |  (CASE WHEN l_extendedprice >= b4 THEN 1 ELSE 0 END) +
        |  (CASE WHEN l_extendedprice >= b5 THEN 1 ELSE 0 END) AS BIGINT) AS cls
        |FROM lineitem CROSS JOIN brk
        |ORDER BY l_orderkey, l_linenumber, cls""".stripMargin),

    // -colorizer: sequential (equal-interval breaks -> color ramp) and
    // categorical (exact match + other) color assignment
    query("q_colorize")((s, dir) => {
      val part = t(s, dir, "part")
      val breaks = Classify.equalIntervalBreaks(part, "p_retailprice", numBreaks = 4)
      val ramp = Seq("#fee", "#fcc", "#f99", "#f66", "#f33")
      part.select(col("p_partkey"),
          Classify.colorize(col("p_retailprice"), breaks, ramp).as("seq_color"),
          Classify.colorizeCategorical(col("p_brand"),
            Seq("Brand#13", "Brand#23"), Seq("#b13", "#b23"), otherColor = "#oth")
            .as("cat_color"))
        .orderBy("p_partkey")
    })(
      """WITH mm AS (SELECT min(p_retailprice) AS mn, max(p_retailprice) AS mx FROM part),
        |brk AS (SELECT
        |  mn + 1.0 * ((mx - mn) / 5.0) AS b1,
        |  mn + 2.0 * ((mx - mn) / 5.0) AS b2,
        |  mn + 3.0 * ((mx - mn) / 5.0) AS b3,
        |  mn + 4.0 * ((mx - mn) / 5.0) AS b4 FROM mm),
        |cls AS (SELECT p_partkey, p_brand,
        |  (CASE WHEN p_retailprice >= b1 THEN 1 ELSE 0 END) +
        |  (CASE WHEN p_retailprice >= b2 THEN 1 ELSE 0 END) +
        |  (CASE WHEN p_retailprice >= b3 THEN 1 ELSE 0 END) +
        |  (CASE WHEN p_retailprice >= b4 THEN 1 ELSE 0 END) AS c
        |  FROM part CROSS JOIN brk)
        |SELECT p_partkey,
        |  CASE c WHEN 0 THEN '#fee' WHEN 1 THEN '#fcc' WHEN 2 THEN '#f99'
        |         WHEN 3 THEN '#f66' ELSE '#f33' END AS seq_color,
        |  CASE WHEN p_brand = 'Brand#13' THEN '#b13'
        |       WHEN p_brand = 'Brand#23' THEN '#b23' ELSE '#oth' END AS cat_color
        |FROM cls ORDER BY p_partkey""".stripMargin),

    // -classify non-adjacent (ref src/color/graph-color.mjs:8-163 via
    // mapshaper-classify.mjs:59): 5x5 lattice of unit squares; adjacency is
    // the distributed shared-edge self-join, then the reference's exact
    // greedy runs on the collected id pairs. With 2 colors the result is
    // parity-FORCED: the first pop is the max-degree max-id node (3,3)
    // (even parity -> color 0) and every later pop has a colored neighbor
    // (saturated nodes bubble past all unsaturated ones), so the oracle is
    // the closed-form checkerboard. The order-sensitive 3/4-color paths are
    // replica-golden spec-tested (NonAdjacentSpec).
    query("q_classify_color")((s, dir) => {
      import s.implicits._
      val n = 5
      val verts = (for {
        i <- 0 until n * n
        (dx, dy, q) <- Seq((0, 0, 0), (1, 0, 1), (1, 1, 2), (0, 1, 3), (0, 0, 4))
      } yield (i.toLong, 0, q, (i % n + dx).toDouble, (i / n + dy).toDouble))
        .toDF("id", "ring", "seq", "x", "y")
      val adj = Classify.sharedEdgeAdjacency(verts)
      Classify.nonAdjacentDF(s, verts.select("id").distinct(), adj, nColors = 2)
        .orderBy("id")
    })(
      // forced 2-coloring of the 5x5 lattice: checkerboard parity
      """SELECT CAST(id AS BIGINT) AS id,
        |  CAST(((id // 5) + (id % 5)) % 2 AS BIGINT) AS color_id
        |FROM (SELECT unnest(range(0, 25)) AS id)
        |ORDER BY id""".stripMargin),

    // -svg-style: conditional style-column assignment with where=
    query("q_svg_style")((s, dir) =>
      SvgStyle(points(s, dir),
        Map("fill" -> lit("red"), "stroke-width" -> floor(col("y") / 10.0)),
        where = Some(col("x") > 50.0))
        .select(col("id"), col("fill"), col("stroke-width").cast("long").as("sw"))
        .orderBy("id"))(
      // -svg-style: where=-gated style columns (excluded rows -> NULL)
      s"""WITH $ptsSql
         |SELECT id,
         |  CASE WHEN x > 50.0 THEN 'red' END AS fill,
         |  CASE WHEN x > 50.0 THEN CAST(floor(y / 10.0) AS BIGINT) END AS sw
         |FROM pts ORDER BY id""".stripMargin),

    // join where= match filter + keep-first collision determinism (ref
    // mapshaper-join-filter.mjs:9-29, join-tables.mjs:106-115): only source
    // rows passing the predicate are eligible, and among colliding source
    // rows the winner is the SMALLEST under the full-tuple ordering of the
    // non-key columns (content-derived total order — identical at any
    // parallelism; mirrored with a row_number window in DuckDB)
    query("q_join_where")((s, dir) => {
      val src = t(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice")
      val r = JoinOp.join(
        t(s, dir, "customer"), src, "c_custkey", "o_custkey",
        fields = Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        where = Some(col("o_totalprice") > 150000.0))
      r.joined
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .orderBy("c_custkey")
    })(
      // keep-first = smallest under the full-tuple ordering of the non-key
      // source columns, replayed with a row_number window; the where= filter
      // gates eligibility BEFORE the keep-first pick
      """WITH src AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_totalprice > 150000.0),
        |f AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey, o_orderstatus, o_totalprice) AS rn FROM src)
        |SELECT c_custkey, c_name, o_orderkey, o_orderstatus, o_totalprice
        |FROM customer LEFT JOIN f ON c_custkey = f.o_custkey AND f.rn = 1
        |ORDER BY c_custkey""".stripMargin)
  )
}
