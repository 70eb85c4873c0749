package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Second scalar-function coverage batch (SURVEY.md §2.10): overlay/locate/
  * instr/base64/split_part/starts-ends-with/printf, cbrt/degrees/radians/
  * factorial/2-arg log/pi, to_date-to_timestamp with patterns, from_unixtime,
  * epoch round-trips. Engine-defined outputs (soundex, initcap, parse_url,
  * width_bucket, conv, bround, hash seeds) are covered in FuncsSpec.
  */
object Funcs2 {
  type Q = (SparkSession, String) => DataFrame

  private def sql(s: SparkSession, dir: String, q: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q)
  }

  val queries: Map[String, Q] = Map(
    "q_fn_string2" -> { (s, dir) => sql(s, dir,
      """SELECT doc_id,
        |  overlay(lang PLACING 'XX' FROM 2 FOR 1) AS ov,
        |  CAST(locate('a', substring(text, 1, 50)) AS INT) AS loc_a,
        |  CAST(instr(substring(text, 1, 50), 'data') AS INT) AS pos_data,
        |  base64(encode(lang, 'UTF-8')) AS lang_b64,
        |  decode(unbase64(base64(encode(source, 'UTF-8'))), 'UTF-8') AS src_roundtrip,
        |  split_part(source, 'c', 2) AS sp,
        |  startswith(text, 'the') AS starts_the,
        |  endswith(lang, 'n') AS ends_n,
        |  contains(substring(text, 1, 40), 'a') AS has_a,
        |  format_string('%s#%d', lang, doc_id) AS tagged,
        |  substring(text, 5) AS tail5
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)
    },

    "q_fn_math2" -> { (s, dir) => sql(s, dir,
      """SELECT l_orderkey, l_linenumber,
        |  round(cbrt(l_extendedprice), 6) AS p_cbrt,
        |  round(degrees(l_discount), 6) AS d_deg,
        |  round(radians(l_quantity), 6) AS q_rad,
        |  factorial(CAST(l_quantity AS INT) % 10) AS q_fact,
        |  round(log(2.0, l_extendedprice + 1), 6) AS p_log2,
        |  round(pi() * l_discount, 6) AS d_pi,
        |  round(pow(l_quantity, 0.5), 6) AS q_pow_half,
        |  CAST(pmod(CAST(l_orderkey AS INT) - 7, 5) AS INT) AS pm,
        |  round(cos(l_tax), 6) AS t_cos,
        |  round(tan(l_discount), 6) AS d_tan
        |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },

    "q_fn_datetime2" -> { (s, dir) => sql(s, dir,
      """SELECT event_id,
        |  CAST(to_date(date_format(ts, 'yyyy-MM-dd'), 'yyyy-MM-dd') AS TIMESTAMP_NTZ) AS d_rt,
        |  to_timestamp_ntz(date_format(ts, 'yyyy-MM-dd HH:mm:ss'), 'yyyy-MM-dd HH:mm:ss') AS ts_rt,
        |  from_unixtime(unix_timestamp(ts), 'yyyy-MM-dd HH:mm') AS fu,
        |  CAST(timestamp_seconds(unix_timestamp(ts)) AS TIMESTAMP_NTZ) AS ts_sec,
        |  CAST(date_add(to_date(ts), 10) AS TIMESTAMP_NTZ) AS plus10d,
        |  CAST(date_sub(to_date(ts), 3) AS TIMESTAMP_NTZ) AS minus3d,
        |  CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT) AS dd,
        |  make_date(2024, CAST(month(ts) AS INT), 1) = to_date(date_trunc('MONTH', ts)) AS month_start_eq,
        |  CAST(weekofyear(ts) AS BIGINT) AS woy
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin)
    },
  )

  val oracle: Map[String, String] = Map(
    "q_fn_string2" ->
      """SELECT doc_id,
        |  left(lang, 1) || 'XX' || substring(lang, 3) AS ov,
        |  CAST(instr(substring(text, 1, 50), 'a') AS INT) AS loc_a,
        |  CAST(instr(substring(text, 1, 50), 'data') AS INT) AS pos_data,
        |  base64(encode(lang)) AS lang_b64,
        |  source AS src_roundtrip,
        |  split_part(source, 'c', 2) AS sp,
        |  starts_with(text, 'the') AS starts_the,
        |  ends_with(lang, 'n') AS ends_n,
        |  contains(substring(text, 1, 40), 'a') AS has_a,
        |  printf('%s#%d', lang, doc_id) AS tagged,
        |  substring(text, 5) AS tail5
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_math2" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(cbrt(l_extendedprice), 6) AS p_cbrt,
        |  round(degrees(l_discount), 6) AS d_deg,
        |  round(radians(l_quantity), 6) AS q_rad,
        |  CAST(factorial(CAST(l_quantity AS INT) % 10) AS BIGINT) AS q_fact,
        |  round(log(2, l_extendedprice + 1), 6) AS p_log2,
        |  round(pi() * l_discount, 6) AS d_pi,
        |  round(pow(l_quantity, 0.5), 6) AS q_pow_half,
        |  CAST(((CAST(l_orderkey AS INT) - 7) % 5 + 5) % 5 AS INT) AS pm,
        |  round(cos(l_tax), 6) AS t_cos,
        |  round(tan(l_discount), 6) AS d_tan
        |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_fn_datetime2" ->
      """SELECT event_id,
        |  strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d') AS d_rt,
        |  strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_rt,
        |  strftime(CAST(to_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) AS TIMESTAMP), '%Y-%m-%d %H:%M') AS fu,
        |  CAST(to_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) AS TIMESTAMP) AS ts_sec,
        |  CAST(CAST(ts AS DATE) + INTERVAL 10 DAY AS TIMESTAMP) AS plus10d,
        |  CAST(CAST(ts AS DATE) - INTERVAL 3 DAY AS TIMESTAMP) AS minus3d,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS dd,
        |  make_date(2024, CAST(month(ts) AS INT), 1) = CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month_start_eq,
        |  weekofyear(ts) AS woy
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,
  )
}
