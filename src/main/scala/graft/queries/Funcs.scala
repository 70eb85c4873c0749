package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scalar-function coverage (SURVEY.md §2.10): each query exercises one
  * function family end-to-end against a DuckDB mirror. Functions whose
  * outputs are engine-defined (hash seeds, rand, soundex, initcap, parse_url,
  * typeof, width_bucket) are exercised in FuncsSpec instead of the oracle.
  *
  * All function evaluation happens inside whole-stage codegen: the Flink-name
  * shims are SQL UDFs inlined by Catalyst (see FlinkFunctions.scala).
  */
object Funcs {
  type Q = (SparkSession, String) => DataFrame

  private def sql(s: SparkSession, dir: String, q: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q)
  }

  val queries: Map[String, Q] = Map(
    "q_fn_string" -> { (s, dir) => sql(s, dir,
      """SELECT doc_id,
        |  char_length(text) AS n_chars,
        |  upper(substring(text, 1, 10)) AS head_upper,
        |  lower(right(text, 5)) AS tail_lower,
        |  trim('  ' || left(text, 8) || '  ') AS trimmed,
        |  lpad(lang, 5, '_') AS lang_pad,
        |  replace(substring(text, 1, 20), ' ', '_') AS head_snake,
        |  concat_ws('|', lang, source) AS lang_src,
        |  reverse(lang) AS lang_rev,
        |  repeat(lang, 2) AS lang2,
        |  position('a' IN substring(text, 1, 30)) AS pos_a,
        |  ascii(lang) AS lang_ascii,
        |  char(65 + CAST(doc_id % 26 AS INT)) AS letter,
        |  translate(lang, 'aeiou', 'AEIOU') AS lang_tr
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)
    },

    "q_fn_regex" -> { (s, dir) => sql(s, dir,
      """SELECT doc_id,
        |  regexp_replace(substring(text, 1, 40), '[aeiou]', '*') AS starred,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  CAST(substring(text, 1, 30) RLIKE 'data|query' AS BOOLEAN) AS has_kw,
        |  split_index(text, ' ', 0) AS tok0,
        |  split_index(text, ' ', 2) AS tok2
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)
    },

    "q_fn_math" -> { (s, dir) => sql(s, dir,
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS d_abs,
        |  CAST(ceil(l_extendedprice) AS DOUBLE) AS p_ceil,
        |  CAST(floor(l_extendedprice) AS DOUBLE) AS p_floor,
        |  round(l_extendedprice * l_tax, 4) AS tax_amt,
        |  round(sqrt(l_extendedprice), 6) AS p_sqrt,
        |  round(exp(l_discount), 6) AS d_exp,
        |  round(ln(l_extendedprice + 1), 6) AS p_ln,
        |  round(log10(l_extendedprice + 1), 6) AS p_log10,
        |  round(power(l_quantity, 2), 1) AS q_sq,
        |  CAST(l_quantity AS BIGINT) % 7 AS q_mod,
        |  sign(l_discount - 0.05) AS d_sign,
        |  truncate(l_extendedprice, 1) AS p_trunc,
        |  round(sin(l_discount), 6) AS d_sin,
        |  round(atan2(l_discount, l_tax + 0.01), 6) AS d_atan2,
        |  hex(CAST(l_orderkey AS BIGINT)) AS key_hex,
        |  bitand(l_orderkey, 255) AS key_and,
        |  bit_count(l_orderkey) AS key_bits,
        |  gcd(l_orderkey, 36) AS key_gcd,
        |  lcm(CAST(l_quantity AS BIGINT), 6) AS q_lcm
        |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },

    "q_fn_datetime" -> { (s, dir) => sql(s, dir,
      """SELECT event_id,
        |  CAST(year(ts) AS BIGINT) AS y, CAST(quarter(ts) AS BIGINT) AS q,
        |  CAST(month(ts) AS BIGINT) AS mo, CAST(day(ts) AS BIGINT) AS d,
        |  CAST(hour(ts) AS BIGINT) AS h, CAST(minute(ts) AS BIGINT) AS mi,
        |  CAST(second(ts) AS BIGINT) AS sec,
        |  CAST(dayofyear(ts) AS BIGINT) AS doy,
        |  CAST(dayofweek(ts) AS BIGINT) AS dow,
        |  date_trunc('HOUR', ts) AS ts_hour,
        |  date_format(ts, 'yyyy-MM-dd HH:mm') AS fmt,
        |  date_format(ts, 'EEEE') AS dn, date_format(ts, 'MMMM') AS mn,
        |  CAST(to_date(ts) AS TIMESTAMP_NTZ) AS ts_date,
        |  CAST(last_day(to_date(ts)) AS TIMESTAMP_NTZ) AS month_end,
        |  timestampadd(HOUR, 3, ts) AS plus3h,
        |  timestampdiff(MINUTE, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts) AS min_since,
        |  unix_timestamp(ts) AS epoch_s,
        |  CAST(extract(MONTH FROM ts) AS BIGINT) AS ex_mo,
        |  is_leap_year(CAST(year(ts) AS INT)) AS leap
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin)
    },

    "q_fn_conditional" -> { (s, dir) => sql(s, dir,
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |  if(c_acctbal > 0, 'pos', 'neg') AS bal_sign,
        |  ifnull(nullif(c_nationkey, 0), -1) AS nat,
        |  greatest(c_acctbal, 0.0D) AS bal_floor0,
        |  least(c_acctbal, 1000.0D) AS bal_cap,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS STRING) AS bal_dec,
        |  try_cast(c_name AS DOUBLE) AS name_num,
        |  CAST(try_cast(substring(c_name, 10) AS BIGINT) AS BIGINT) AS name_id
        |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin)
    },

    "q_fn_collection" -> { (s, dir) => sql(s, dir,
      """WITH toks AS (SELECT doc_id, split(text, ' ') AS a FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  CAST(cardinality(a) AS BIGINT) AS n_tokens,
        |  array_contains(a, 'spark') AS has_spark,
        |  array_join(slice(a, 1, 3), '-') AS first3,
        |  element_at(a, 2) AS tok2,
        |  element_at(a, -1) AS tok_last,
        |  array_join(array_sort(array_distinct(a)), ',') AS vocab,
        |  CAST(array_position(a, 'data') AS BIGINT) AS data_pos,
        |  array_join(array_remove(a, 'the'), ' ') AS no_the,
        |  array_join(slice(reverse(a), 1, 2), '+') AS last2_rev,
        |  CAST(size(array_intersect(a, array('spark', 'flink', 'data'))) AS BIGINT) AS kw_hits,
        |  array_min(a) AS tok_min, array_max(a) AS tok_max
        |FROM toks ORDER BY doc_id""".stripMargin)
    },

    "q_fn_json_full" -> { (s, dir) => sql(s, dir,
      """SELECT event_id,
        |  json_value(props, '$.k') AS k_str,
        |  json_exists(props, '$.k') AS has_k,
        |  json_exists(props, '$.missing') AS has_missing,
        |  is_json(props) AS ok_json,
        |  is_json_object(props) AS ok_obj,
        |  is_json_array(props) AS ok_arr,
        |  to_json(struct(event_type, user_id)) AS packed
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin)
    },

    "q_fn_hash" -> { (s, dir) => sql(s, dir,
      """SELECT doc_id,
        |  md5(text) AS h_md5,
        |  sha2(text, 256) AS h_sha256,
        |  similarity(lang, source) AS sim,
        |  CAST(levenshtein(lang, source) AS BIGINT) AS lev
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)
    },
  )

  val oracle: Map[String, String] = Map(
    "q_fn_string" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  upper(substring(text, 1, 10)) AS head_upper,
        |  lower(right(text, 5)) AS tail_lower,
        |  trim('  ' || left(text, 8) || '  ') AS trimmed,
        |  lpad(lang, 5, '_') AS lang_pad,
        |  replace(substring(text, 1, 20), ' ', '_') AS head_snake,
        |  concat_ws('|', lang, source) AS lang_src,
        |  reverse(lang) AS lang_rev,
        |  repeat(lang, 2) AS lang2,
        |  CAST(position('a' IN substring(text, 1, 30)) AS INT) AS pos_a,
        |  CAST(ascii(lang) AS INT) AS lang_ascii,
        |  chr(65 + CAST(doc_id % 26 AS INT)) AS letter,
        |  translate(lang, 'aeiou', 'AEIOU') AS lang_tr
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_regex" ->
      """SELECT doc_id,
        |  regexp_replace(substring(text, 1, 40), '[aeiou]', '*', 'g') AS starred,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  regexp_matches(substring(text, 1, 30), 'data|query') AS has_kw,
        |  string_split(text, ' ')[1] AS tok0,
        |  string_split(text, ' ')[3] AS tok2
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS d_abs,
        |  CAST(ceil(l_extendedprice) AS DOUBLE) AS p_ceil,
        |  CAST(floor(l_extendedprice) AS DOUBLE) AS p_floor,
        |  round(l_extendedprice * l_tax, 4) AS tax_amt,
        |  round(sqrt(l_extendedprice), 6) AS p_sqrt,
        |  round(exp(l_discount), 6) AS d_exp,
        |  round(ln(l_extendedprice + 1), 6) AS p_ln,
        |  round(log10(l_extendedprice + 1), 6) AS p_log10,
        |  round(power(l_quantity, 2), 1) AS q_sq,
        |  CAST(l_quantity AS BIGINT) % 7 AS q_mod,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS d_sign,
        |  CASE WHEN l_extendedprice >= 0 THEN floor(l_extendedprice * 10) / 10
        |       ELSE ceil(l_extendedprice * 10) / 10 END AS p_trunc,
        |  round(sin(l_discount), 6) AS d_sin,
        |  round(atan2(l_discount, l_tax + 0.01), 6) AS d_atan2,
        |  upper(to_hex(l_orderkey)) AS key_hex,
        |  l_orderkey & 255 AS key_and,
        |  CAST(bit_count(l_orderkey) AS BIGINT) AS key_bits,
        |  gcd(l_orderkey, 36) AS key_gcd,
        |  lcm(CAST(l_quantity AS BIGINT), 6) AS q_lcm
        |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_fn_datetime" ->
      """SELECT event_id,
        |  year(ts) AS y, quarter(ts) AS q, month(ts) AS mo, day(ts) AS d,
        |  hour(ts) AS h, minute(ts) AS mi,
        |  CAST(floor(second(ts)) AS BIGINT) AS sec,
        |  dayofyear(ts) AS doy,
        |  (dayofweek(ts) + 1) AS dow,
        |  date_trunc('hour', ts) AS ts_hour,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
        |  dayname(ts) AS dn, monthname(ts) AS mn,
        |  CAST(CAST(ts AS DATE) AS TIMESTAMP) AS ts_date,
        |  CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS month_end,
        |  ts + INTERVAL 3 HOUR AS plus3h,
        |  (epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 60000000 AS min_since,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS epoch_s,
        |  extract(MONTH FROM ts) AS ex_mo,
        |  (year(ts) % 4 = 0 AND year(ts) % 100 != 0) OR year(ts) % 400 = 0 AS leap
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "q_fn_conditional" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |  CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS bal_sign,
        |  ifnull(nullif(c_nationkey, 0), -1) AS nat,
        |  greatest(c_acctbal, 0.0) AS bal_floor0,
        |  least(c_acctbal, 1000.0) AS bal_cap,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS bal_dec,
        |  try_cast(c_name AS DOUBLE) AS name_num,
        |  try_cast(substring(c_name, 10) AS BIGINT) AS name_id
        |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin,

    "q_fn_collection" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  CAST(len(a) AS BIGINT) AS n_tokens,
        |  list_contains(a, 'spark') AS has_spark,
        |  array_to_string(a[1:3], '-') AS first3,
        |  a[2] AS tok2,
        |  a[-1] AS tok_last,
        |  array_to_string(list_sort(list_distinct(a)), ',') AS vocab,
        |  CAST(coalesce(list_position(a, 'data'), 0) AS BIGINT) AS data_pos,
        |  array_to_string(list_filter(a, x -> x != 'the'), ' ') AS no_the,
        |  array_to_string(list_reverse(a)[1:2], '+') AS last2_rev,
        |  CAST(len(list_intersect(a, ['spark', 'flink', 'data'])) AS BIGINT) AS kw_hits,
        |  list_aggregate(a, 'min') AS tok_min, list_aggregate(a, 'max') AS tok_max
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q_fn_json_full" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  json_extract(props, '$.k') IS NOT NULL AS has_k,
        |  json_extract(props, '$.missing') IS NOT NULL AS has_missing,
        |  json_valid(props) AS ok_json,
        |  json_valid(props) AND starts_with(ltrim(props), '{') AS ok_obj,
        |  json_valid(props) AND starts_with(ltrim(props), '[') AS ok_arr,
        |  '{"event_type":"' || event_type || '","user_id":' || user_id || '}' AS packed
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,

    "q_fn_hash" ->
      """SELECT doc_id,
        |  md5(text) AS h_md5,
        |  sha256(text) AS h_sha256,
        |  CASE WHEN length(lang) = 0 AND length(source) = 0 THEN 1.0
        |       ELSE 1.0 - levenshtein(lang, source) / CAST(greatest(length(lang), length(source)) AS DOUBLE)
        |  END AS sim,
        |  CAST(levenshtein(lang, source) AS BIGINT) AS lev
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
  )
}
