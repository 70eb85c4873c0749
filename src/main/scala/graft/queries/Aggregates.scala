package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Aggregation surface (SURVEY.md §2.6): DISTINCT aggregates, statistical
  * aggregates, LISTAGG/COLLECT, GROUPING SETS / ROLLUP / CUBE, HAVING,
  * APPROX_COUNT_DISTINCT.
  *
  * All aggregations are plain groupBy/rollup/cube — Catalyst plans them as
  * partial (map-side) + final hash aggregates, so they scale linearly;
  * countDistinct expands to a two-phase aggregate automatically.
  */
object Aggregates {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  private def dsum(e: String) =
    expr(s"cast(sum(cast(($e) as decimal(18,4))) as double)")

  val queries: Map[String, Q] = Map(
    // COUNT(DISTINCT) + multiple distinct aggregates
    "q_agg_count_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // statistical aggregates; rounded on both sides (engine-internal summation
    // order makes raw doubles drift at the last ULP)
    "q_agg_stats" -> { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          round(stddev_samp(col("c_acctbal")), 3).as("sd_samp"),
          round(stddev_pop(col("c_acctbal")), 3).as("sd_pop"),
          round(var_samp(col("c_acctbal")), 3).as("v_samp"),
          round(var_pop(col("c_acctbal")), 3).as("v_pop"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // LISTAGG / COLLECT with deterministic element order (F:269-270)
    "q_agg_listagg" -> { (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name"))
    },

    // GROUPING SETS ((a,b),(a),()) — F:277-286
    "q_agg_grouping_sets" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    // ROLLUP — F:288-290
    "q_agg_rollup" -> { (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), dsum("o_totalprice").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // CUBE — F:292-294
    "q_agg_cube" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // HAVING — F:259-274
    "q_agg_having" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(dsum("l_quantity").as("total_qty"), count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy(col("l_partkey"))
    },

    // APPROX_COUNT_DISTINCT (HLL++) with an ORACLE-CHECKABLE contract
    // (r11, the q_sim_recall convention): the raw estimate is
    // engine-specific, so it enters the result only through a relative-
    // error bound against the exact count computed in the same query. The
    // default rsd is 0.05; measured relative error is ≤0.027 at
    // sf0.001/0.01/0.1 (PLANS.md "Round-11: oracle contracts for the
    // hash-dependent gates"), gated at ≤0.10 — any HLL
    // regression past 2× rsd flips the boolean and the oracle hash
    // mismatches.
    "q_agg_approx_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.10).as("approx_within_10pct"))
        .orderBy(col("l_returnflag"))
    },

    // FIRST_VALUE/LAST_VALUE as aggregates with explicit deterministic order:
    // min_by/max_by (Flink FIRST_VALUE over ordered input ≈ value at extreme key)
    "q_agg_first_last" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          min_by(col("o_orderstatus"), col("o_orderkey")).as("first_status"),
          max_by(col("o_orderstatus"), col("o_orderkey")).as("last_status"),
          min(col("o_orderdate")).as("first_date"))
        .orderBy(col("o_custkey"))
    },
  )

  val oracle: Map[String, String] = Map(
    // constant-row contract: the HLL estimate enters only through the
    // relative-error boolean (see the query comment) — the oracle
    // recomputes the exact side and pins the boolean TRUE
    "q_agg_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS approx_within_10pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_stats" ->
      """SELECT c_mktsegment,
        |       ROUND(STDDEV_SAMP(c_acctbal), 3) AS sd_samp,
        |       ROUND(STDDEV_POP(c_acctbal), 3) AS sd_pop,
        |       ROUND(VAR_SAMP(c_acctbal), 3) AS v_samp,
        |       ROUND(VAR_POP(c_acctbal), 3) AS v_pop,
        |       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_agg_listagg" ->
      """SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_having" ->
      """SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 5
        |ORDER BY l_partkey""".stripMargin,

    "q_agg_first_last" ->
      """SELECT o_custkey,
        |       MIN_BY(o_orderstatus, o_orderkey) AS first_status,
        |       MAX_BY(o_orderstatus, o_orderkey) AS last_status,
        |       MIN(o_orderdate) AS first_date
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
  )
}
