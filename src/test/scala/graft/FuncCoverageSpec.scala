package graft

/** §2.10 completeness check: every Flink built-in name the reference grammar
  * declares (syntaxes/flink.tmLanguage.json:415-471) must resolve in a graft
  * session — as a Spark builtin, a registered shim, or via a documented
  * dialect rewrite. Names the engine intentionally does not support are
  * pinned in `unsupported` so a future regression (or silent fix) is visible.
  */
class FuncCoverageSpec extends SparkTestBase {

  /** Flink name → resolvable SQL name (identity unless the dialect maps it).
    * r2: SHA224/WEEK/FROM_BASE64/TO_BASE64/MAP_UNION/ARRAY_CONCAT/
    * ARRAY_REVERSE/ARRAY_SLICE/GENERATE_SERIES/STRCMP now register under
    * their own Flink names and are checked directly. */
  val mapped: Map[String, String] = Map(
    "CHARACTER_LENGTH" -> "char_length", "CEILING" -> "ceil", "POW" -> "power",
    "TRUNC" -> "truncate", "SUBSTR" -> "substring",
    "REGEXP" -> "regexp_like", "CHR" -> "char",
    "UNNEST" -> "explode",
    "JSON_STRING" -> "to_json", "PRINTF" -> "format_string",
    "LISTAGG" -> "listagg",
    "DAYOFMONTH" -> "day", "CURRENT_ROW_TIMESTAMP" -> "current_row_timestamp",
  )

  /** Dialect-level rewrites (no function object): covered by EngineSpec and
    * the q_fn_json_agg gate. */
  val dialectRewrites = Set("ELEMENT", "COLLECT", "PROCTIME", "SIMILAR TO",
    "JSON_ARRAYAGG", "JSON_OBJECTAGG", "JSON_OBJECT", "JSON_ARRAY",
    // r7: the support.function.row group (G:459) — ROW → struct,
    // FLATTEN → qualified-star expansion (q_flink_row_flatten gate)
    "ROW", "FLATTEN")

  /** Parser-level constructs: DESCRIBE FUNCTION doesn't know them, but the
    * SQL form works — verified by execution below. */
  val parserLevel: Map[String, String] = Map(
    "TIMESTAMPADD" -> "SELECT timestampadd(HOUR, 1, TIMESTAMP '2024-01-01 00:00:00')",
    "TIMESTAMPDIFF" -> "SELECT timestampdiff(MINUTE, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 01:00:00')",
    "TRY_CAST" -> "SELECT try_cast('x' AS INT)",
  )

  /** Documented-unsupported (SURVEY §7.4). */
  val unsupported = Set("CURRENT_WATERMARK", "SOURCE_WATERMARK", "PRINT", "COMPILE")

  val flinkNames: Seq[String] = Seq(
    // string (G:431)
    "CHAR_LENGTH", "CHARACTER_LENGTH", "UPPER", "LOWER", "TRIM", "LTRIM", "RTRIM",
    "REPEAT", "REGEXP_REPLACE", "REGEXP_EXTRACT", "OVERLAY", "SUBSTRING", "SUBSTR",
    "REPLACE", "LOCATE", "INSTR", "LEFT", "RIGHT", "LPAD", "RPAD", "CONCAT",
    "CONCAT_WS", "SPLIT_INDEX", "ASCII", "CHR", "ENCODE", "DECODE", "MD5", "SHA1",
    "SHA2", "PARSE_URL", "FROM_BASE64", "TO_BASE64", "UUID", "REVERSE", "INITCAP",
    "TRANSLATE", "SPACE", "SOUNDEX", "LEVENSHTEIN", "SIMILARITY", "ELT",
    // JSON
    "JSON_VALUE", "JSON_EXISTS", "IS_JSON", "GET_JSON_OBJECT", "TO_JSON", "FROM_JSON",
    "JSON_ARRAYAGG", "JSON_OBJECTAGG", "JSON_OBJECT", "JSON_ARRAY",
    // math (G:435)
    "ABS", "CEIL", "CEILING", "FLOOR", "ROUND", "EXP", "LN", "LOG", "LOG10", "LOG2",
    "POWER", "POW", "SQRT", "MOD", "SIN", "COS", "TAN", "COT", "ASIN", "ACOS",
    "ATAN", "ATAN2", "SINH", "COSH", "TANH", "DEGREES", "RADIANS", "SIGN", "PI",
    "RAND", "RAND_INTEGER", "BIN", "HEX", "BITAND", "BITOR", "BITXOR", "BITNOT",
    "BIT_COUNT", "WIDTH_BUCKET", "CBRT", "FACTORIAL", "GCD", "LCM", "TRUNCATE",
    "SHIFTLEFT", "SHIFTRIGHT", "PMOD", "GREATEST", "LEAST",
    // date/time (G:439)
    "CURRENT_DATE", "CURRENT_TIMESTAMP", "NOW", "LOCALTIMESTAMP", "TO_DATE",
    "TO_TIMESTAMP", "TO_TIMESTAMP_LTZ", "DATE_FORMAT", "EXTRACT", "YEAR", "QUARTER",
    "MONTH", "WEEK", "DAYOFYEAR", "DAYOFMONTH", "DAYOFWEEK", "HOUR", "MINUTE",
    "SECOND", "TIMESTAMPADD", "TIMESTAMPDIFF", "CONVERT_TZ", "FROM_UNIXTIME",
    "UNIX_TIMESTAMP", "DATEDIFF", "DATE_ADD", "DATE_SUB", "DAYNAME", "MONTHNAME",
    "LAST_DAY", "NEXT_DAY", "IS_LEAP_YEAR", "DATE_TRUNC", "MAKE_DATE",
    "CURRENT_ROW_TIMESTAMP",
    // conditional / conversion
    "COALESCE", "NULLIF", "IF", "IFNULL", "CAST", "TRY_CAST", "TYPEOF",
    // collections (G:455)
    "CARDINALITY", "ARRAY", "MAP", "ARRAY_CONTAINS", "ARRAY_DISTINCT",
    "ARRAY_POSITION", "ARRAY_REMOVE", "ARRAY_REVERSE", "ARRAY_UNION",
    "ARRAY_CONCAT", "ARRAY_SLICE", "ARRAY_JOIN", "ARRAY_MAX", "ARRAY_MIN",
    "ARRAY_SORT", "ARRAY_EXCEPT", "ARRAY_INTERSECT", "ARRAY_PREPEND",
    "ARRAY_APPEND", "MAP_KEYS", "MAP_VALUES", "MAP_ENTRIES", "MAP_FROM_ARRAYS",
    "MAP_UNION", "ELEMENT_AT", "EXPLODE", "GENERATE_SERIES", "UNNEST", "SLICE",
    // row (G:459)
    "ROW", "FLATTEN",
    // aggregates (G:415-419)
    "COUNT", "SUM", "AVG", "MIN", "MAX", "STDDEV", "STDDEV_POP", "STDDEV_SAMP",
    "VARIANCE", "VAR_POP", "VAR_SAMP", "LISTAGG", "ARRAY_AGG",
    "APPROX_COUNT_DISTINCT", "FIRST_VALUE", "LAST_VALUE", "COLLECT",
    // analytic (G:403-407)
    "ROW_NUMBER", "RANK", "DENSE_RANK", "PERCENT_RANK", "CUME_DIST", "NTILE",
    "LAG", "LEAD", "NTH_VALUE",
    // hash (G:463)
    "HASH_CODE", "MURMUR_HASH", "MURMUR_HASH_64", "XXH3_64", "CRC32",
    // auxiliary (G:467)
    "CURRENT_CATALOG", "CURRENT_DATABASE", "CURRENT_WATERMARK", "SOURCE_WATERMARK",
  )

  test("every declared Flink function name resolves (or is pinned unsupported)") {
    def resolves(name: String): Boolean =
      try { spark.sql(s"DESCRIBE FUNCTION `${name.toLowerCase}`").collect(); true }
      catch { case _: Exception => false }
    parserLevel.foreach { case (n, probe) =>
      assert(try { spark.sql(probe).collect(); true } catch { case _: Exception => false },
        s"parser-level construct $n failed: $probe")
    }
    val missing = flinkNames
      .filterNot(dialectRewrites)
      .filterNot(unsupported)
      .filterNot(parserLevel.contains)
      .map(n => n -> mapped.getOrElse(n, n))
      .filterNot { case (_, resolved) => resolves(resolved) }
    assert(missing.isEmpty,
      s"unresolvable Flink functions: ${missing.map(_._1).mkString(", ")}")
    // unsupported names must stay unsupported (a fix should move them out)
    unsupported.filterNot(_.contains(" ")).foreach { n =>
      assert(!resolves(n), s"$n resolved but is pinned as unsupported — update the spec")
    }
  }

  test("pipeline kernels are callable from SQL at codegen speed") {
    val r = spark.sql(
      """SELECT simhash64('a b c') AS sh,
        |       size(minhash_sig('abcdefgh', 3, 8)) AS mh,
        |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd,
        |       size(rolling_hashes('abcdef', 3, 0)) AS rh,
        |       word_ngrams('a b c d', 2) AS g2,
        |       word_ngrams('a b a b', 3, true) AS g3d,
        |       quality_stats('the quick brown fox the') AS qs,
        |       phash64(encode('some binary payload bytes', 'UTF-8')) AS ph""".stripMargin).head()
    assert(r.getAs[Long]("sh") != 0L)
    assert(r.getAs[Long]("ph") ==
      graft.functions.HashKernels.phash("some binary payload bytes".getBytes("UTF-8")))
    assert(r.getAs[Int]("mh") == 8)
    assert(r.getAs[Double]("vd") == 11.0)
    assert(r.getAs[Int]("rh") == 4)
    assert(r.getSeq[String](r.fieldIndex("g2")) == Seq("a b", "b c", "c d"))
    assert(r.getSeq[String](r.fieldIndex("g3d")) == Seq("a b a", "b a b"))
    // [n_words, letters, symbols, stop_distinct, stop_hits] — 'the' twice
    // is 1 distinct stopword, 2 occurrences (the r19 occurrence stat)
    assert(r.getSeq[Long](r.fieldIndex("qs")) == Seq(5L, 19L, 0L, 1L, 2L))
  }
}
