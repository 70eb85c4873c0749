package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.engine.FlinkDialect

/** Queries written in FLINK SQL and executed through the dialect layer
  * (engine/FlinkDialect.scala) — this puts the text-rewrite engine itself
  * inside the DuckDB correctness gate. Each statement below is the verbatim
  * shape from the reference corpus/snippets (window TVFs F:196-239, snippets
  * S:45-68; 1-based subscripts F:453; SIMILAR TO G:279).
  */
object DialectQueries {
  type Q = (SparkSession, String) => DataFrame

  private def fsql(s: SparkSession, dir: String, q: String): DataFrame = {
    Tables.registerAll(s, dir)
    FlinkDialect.sql(s, q)
  }

  private val extraQueries: Map[String, Q] = Map(
    // CROSS JOIN LATERAL UNNEST — verbatim Flink shape (F:164-167)
    "q_flink_unnest" -> { (s, dir) => fsql(s, dir,
      """WITH d AS (SELECT doc_id, split(text, ' ') AS tags FROM documents WHERE doc_id < 100)
        |SELECT doc_id, tag, CAST(1 AS BIGINT) AS one
        |FROM d CROSS JOIN UNNEST(tags) AS t(tag)
        |ORDER BY doc_id, tag""".stripMargin)
    },
    // ROW constructor + FLATTEN expansion + dotted field access (G:459):
    // the struct is genuinely built and re-expanded on the Spark side; the
    // oracle sees only the flat columns
    "q_flink_row_flatten" -> { (s, dir) => fsql(s, dir,
      """WITH r AS (
        |  SELECT o_orderkey, ROW(o_custkey, o_totalprice) AS rec
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderkey, FLATTEN(rec), rec.o_totalprice AS price_again
        |FROM r ORDER BY o_orderkey""".stripMargin)
    },
    // MULTISET round-trip (G:459 COLLECT convention, SURVEY §1.2): build the
    // element→count multiset, then read it back — per-element multiplicities
    // by key access, distinct cardinality over its key set
    "q_flink_multiset" -> { (s, dir) => fsql(s, dir,
      """SELECT o_orderstatus,
        |       CAST(COALESCE(COLLECT(o_orderpriority)['1-URGENT'], 0) AS BIGINT) AS n_urgent,
        |       CAST(COALESCE(COLLECT(o_orderpriority)['5-LOW'], 0) AS BIGINT) AS n_low,
        |       CAST(CARDINALITY(MAP_KEYS(COLLECT(o_orderpriority))) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },
    // typed Aggregator UDAF: exact decimal sum registered as SQL function
    "q_agg_typed_udaf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag, dsum4(l_quantity) AS sum_qty, COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
  )

  val queries: Map[String, Q] = extraQueries ++ Map(
    // the reference's hello-world (snippets S:45-56), verbatim Flink SQL
    "q_flink_tumble" -> { (s, dir) => fsql(s, dir,
      """SELECT window_start, window_end, event_type, COUNT(*) AS cnt
        |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '10' MINUTES))
        |GROUP BY window_start, window_end, event_type
        |ORDER BY window_start, event_type""".stripMargin)
    },

    "q_flink_hop" -> { (s, dir) => fsql(s, dir,
      """SELECT window_start, window_end, event_type, COUNT(*) AS cnt
        |FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES, INTERVAL '15' MINUTES))
        |GROUP BY window_start, window_end, event_type
        |ORDER BY window_start, event_type""".stripMargin)
    },

    "q_flink_cumulate" -> { (s, dir) => fsql(s, dir,
      """SELECT window_start, window_end, event_type, COUNT(*) AS cnt
        |FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTES, INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end, event_type
        |ORDER BY window_start, window_end, event_type""".stripMargin)
    },

    "q_flink_session" -> { (s, dir) => fsql(s, dir,
      """SELECT window_start, window_end, user_id, COUNT(*) AS cnt
        |FROM TABLE(SESSION(TABLE events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '30' MINUTES))
        |GROUP BY window_start, window_end, user_id
        |ORDER BY user_id, window_start""".stripMargin)
    },

    // JSON aggregates/constructors (G:431): JSON_ARRAYAGG / JSON_OBJECTAGG /
    // JSON_OBJECT, element order determinized by the dialect rewrite
    "q_fn_json_agg" -> { (s, dir) => fsql(s, dir,
      """SELECT n_regionkey,
        |  JSON_ARRAYAGG(n_name) AS names,
        |  JSON_OBJECTAGG(KEY n_name VALUE n_nationkey) AS obj,
        |  JSON_OBJECT(KEY 'region' VALUE CAST(n_regionkey AS STRING)) AS meta
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },

    // Flink WINDOW JOIN (docs "Window Join"): two windowed TVF subqueries
    // joined on (window_start, window_end, key). Both sides shuffle on the
    // same (window, key) — at 100 TB the join adds no shuffle beyond the
    // aggregations themselves (same partitioning reused).
    "q_flink_window_join" -> { (s, dir) => fsql(s, dir,
      """WITH L AS (
        |  SELECT window_start, window_end, user_id, COUNT(*) AS clicks
        |  FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTES))
        |  WHERE event_type = 'click'
        |  GROUP BY window_start, window_end, user_id
        |), R AS (
        |  SELECT window_start, window_end, user_id, COUNT(*) AS purchases
        |  FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTES))
        |  WHERE event_type = 'purchase'
        |  GROUP BY window_start, window_end, user_id
        |)
        |SELECT L.window_start, L.window_end, L.user_id, L.clicks, R.purchases
        |FROM L JOIN R ON L.window_start = R.window_start
        |  AND L.window_end = R.window_end AND L.user_id = R.user_id
        |ORDER BY L.window_start, L.user_id""".stripMargin)
    },

    // quantified subquery comparisons (G:279): Spark has no ANY/SOME/ALL, the
    // dialect rewrites them to NULL-correct scalar-aggregate forms (equality
    // family → membership hit-count CASE, ordering ops → CASE over
    // count/min/max scalars). DuckDB supports the construct natively, so the
    // oracle is verbatim.
    "q_subq_quantified" -> { (s, dir) => fsql(s, dir,
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  o_totalprice > ALL (SELECT c_acctbal FROM customer
        |                      WHERE c_nationkey = 3 AND c_acctbal < 1000) AS gt_all,
        |  o_totalprice < SOME (SELECT c_acctbal FROM customer WHERE c_nationkey = 3) AS lt_some,
        |  o_custkey = ALL (SELECT MIN(c_custkey) FROM customer) AS eq_all,
        |  o_custkey <> ANY (SELECT n_nationkey FROM nation) AS ne_any,
        |  o_totalprice >= ANY (SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END
        |                       FROM customer WHERE c_nationkey = 7) AS ge_any_null
        |FROM orders
        |WHERE o_custkey = ANY (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)
    },

    // Flink 1-based array subscript + SIMILAR TO + SPLIT_INDEX shim
    "q_flink_misc" -> { (s, dir) => fsql(s, dir,
      """WITH toks AS (SELECT doc_id, lang, text, split(text, ' ') AS a FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  a[1] AS first_token,
        |  a[3] AS third_token,
        |  a[CAST(doc_id % 3 AS INT) + 1] AS var_token,
        |  CASE WHEN lang SIMILAR TO '(en|de)' THEN 'germanic' ELSE 'other' END AS family,
        |  split_index(text, ' ', 1) AS second_token
        |FROM toks ORDER BY doc_id""".stripMargin)
    },
  )


  val oracle: Map[String, String] = Map(
    "q_flink_unnest" ->
      """SELECT doc_id, UNNEST(string_split(text, ' ')) AS tag, CAST(1 AS BIGINT) AS one
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id, tag""".stripMargin,

    "q_flink_row_flatten" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_totalprice AS price_again
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "q_flink_multiset" ->
      """SELECT o_orderstatus,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low,
        |       COUNT(DISTINCT o_orderpriority) AS n_distinct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_agg_typed_udaf" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_flink_window_join" ->
      """WITH L AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |         time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '15 minutes' AS window_end,
        |         user_id, COUNT(*) AS clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3
        |), R AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |         time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '15 minutes' AS window_end,
        |         user_id, COUNT(*) AS purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3
        |)
        |SELECT L.window_start, L.window_end, L.user_id, L.clicks, R.purchases
        |FROM L JOIN R ON L.window_start = R.window_start
        |  AND L.window_end = R.window_end AND L.user_id = R.user_id
        |ORDER BY L.window_start, L.user_id""".stripMargin,

    "q_flink_tumble" ->
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
        |       time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '10 minutes' AS window_end,
        |       event_type, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,

    "q_flink_hop" ->
      """WITH h AS (
        |  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
        |           - (k * INTERVAL '5 minutes') AS window_start,
        |         event_type
        |  FROM events, (SELECT UNNEST([0,1,2]) AS k))
        |SELECT window_start, window_start + INTERVAL '15 minutes' AS window_end,
        |       event_type, COUNT(*) AS cnt
        |FROM h GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,

    "q_flink_cumulate" ->
      """WITH c AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |         event_type,
        |         UNNEST(generate_series(
        |           ((epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)))) // 1000000 // 900 + 1) * 900,
        |           3600, 900)) AS end_sec
        |  FROM events)
        |SELECT window_start,
        |       window_start + end_sec * INTERVAL '1 second' AS window_end,
        |       event_type, COUNT(*) AS cnt
        |FROM c GROUP BY 1, 2, 3 ORDER BY window_start, window_end, event_type""".stripMargin,

    "q_flink_session" ->
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CASE WHEN CAST(ts AS TIMESTAMP)
        |                   - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
        |                   >= INTERVAL '30 minutes'
        |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |y AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x)
        |SELECT MIN(ts) AS window_start, MAX(ts) + INTERVAL '30 minutes' AS window_end,
        |       user_id, COUNT(*) AS cnt
        |FROM y GROUP BY user_id, sid ORDER BY user_id, window_start""".stripMargin,

    "q_fn_json_agg" ->
      """SELECT n_regionkey,
        |  '[' || string_agg(to_json(n_name), ',' ORDER BY n_name) || ']' AS names,
        |  '{' || string_agg(to_json(n_name) || ':' || to_json(n_nationkey), ',' ORDER BY n_name) || '}' AS obj,
        |  '{"region":' || to_json(CAST(n_regionkey AS VARCHAR)) || '}' AS meta
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_subq_quantified" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  o_totalprice > ALL (SELECT c_acctbal FROM customer
        |                      WHERE c_nationkey = 3 AND c_acctbal < 1000) AS gt_all,
        |  o_totalprice < SOME (SELECT c_acctbal FROM customer WHERE c_nationkey = 3) AS lt_some,
        |  o_custkey = ALL (SELECT MIN(c_custkey) FROM customer) AS eq_all,
        |  o_custkey <> ANY (SELECT n_nationkey FROM nation) AS ne_any,
        |  o_totalprice >= ANY (SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END
        |                       FROM customer WHERE c_nationkey = 7) AS ge_any_null
        |FROM orders
        |WHERE o_custkey = ANY (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "q_flink_misc" ->
      """SELECT doc_id,
        |  string_split(text, ' ')[1] AS first_token,
        |  string_split(text, ' ')[3] AS third_token,
        |  string_split(text, ' ')[(doc_id % 3) + 1] AS var_token,
        |  CASE WHEN regexp_matches(lang, '^(en|de)$') THEN 'germanic' ELSE 'other' END AS family,
        |  string_split(text, ' ')[2] AS second_token
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
  )
}
