package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Flink-SQL scalar functions Spark lacks (SURVEY.md §2.10, bold items).
  *
  * Gap-fillers are declared as SQL UDFs (`CREATE TEMPORARY FUNCTION ... RETURN
  * expr`) — Catalyst inlines their bodies into the calling plan, so they stay
  * inside whole-stage codegen, unlike Scala/Python UDFs. Only functions whose
  * semantics can't be a single SQL expression (recursive GCD/LCM) fall back to
  * registered Scala UDFs.
  *
  * Generic-over-element-type gaps (ELEMENT(arr), 1-based `arr[i]`) can't be
  * SQL UDFs (those need concrete parameter types) — they are rewritten at the
  * dialect layer instead (engine/FlinkDialect.scala).
  *
  * Reference declarations: grammar syntaxes/flink.tmLanguage.json:431-467,
  * corpus test/syntax-test.fsql:346-461.
  */
object FlinkFunctions {

  /** SQL-defined functions, inlined by the optimizer. */
  val sqlUdfs: Seq[String] = Seq(
    // --- string (G:431) ---
    // Flink SPLIT_INDEX(s, sep, i) is 0-based and splits on a LITERAL
    // separator; Spark split() takes a regex, so the separator is \Q..\E-quoted.
    """CREATE OR REPLACE TEMPORARY FUNCTION SPLIT_INDEX(s STRING, sep STRING, i INT)
      |RETURNS STRING RETURN element_at(split(s, concat('\\Q', sep, '\\E')), i + 1)""".stripMargin,
    // Flink SIMILARITY(a, b): normalized Levenshtein in [0, 1]
    """CREATE OR REPLACE TEMPORARY FUNCTION SIMILARITY(a STRING, b STRING)
      |RETURNS DOUBLE RETURN CASE
      |  WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS DOUBLE)
      |  WHEN length(a) = 0 AND length(b) = 0 THEN 1.0D
      |  ELSE 1.0D - levenshtein(a, b) / CAST(greatest(length(a), length(b)) AS DOUBLE)
      |END""".stripMargin,

    // --- JSON predicates (G:431; Spark has no IS_JSON family) ---
    """CREATE OR REPLACE TEMPORARY FUNCTION IS_JSON(s STRING)
      |RETURNS BOOLEAN RETURN s IS NOT NULL AND try_parse_json(s) IS NOT NULL""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION IS_JSON_OBJECT(s STRING)
      |RETURNS BOOLEAN RETURN s IS NOT NULL AND try_parse_json(s) IS NOT NULL
      |  AND startswith(ltrim(s), '{')""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION IS_JSON_ARRAY(s STRING)
      |RETURNS BOOLEAN RETURN s IS NOT NULL AND try_parse_json(s) IS NOT NULL
      |  AND startswith(ltrim(s), '[')""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION IS_JSON_SCALAR(s STRING)
      |RETURNS BOOLEAN RETURN s IS NOT NULL AND try_parse_json(s) IS NOT NULL
      |  AND NOT startswith(ltrim(s), '{') AND NOT startswith(ltrim(s), '[')""".stripMargin,
    // JSON_VALUE / JSON_EXISTS over Spark's JSONPath support
    """CREATE OR REPLACE TEMPORARY FUNCTION JSON_VALUE(s STRING, p STRING)
      |RETURNS STRING RETURN get_json_object(s, p)""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION JSON_EXISTS(s STRING, p STRING)
      |RETURNS BOOLEAN RETURN get_json_object(s, p) IS NOT NULL""".stripMargin,
    // JSON_QUERY returns object/array matches as JSON text and NULL for
    // scalar matches (Flink's WITHOUT ARRAY WRAPPER default; scalars go
    // through JSON_VALUE)
    """CREATE OR REPLACE TEMPORARY FUNCTION JSON_QUERY(s STRING, p STRING)
      |RETURNS STRING RETURN CASE
      |  WHEN left(ltrim(get_json_object(s, p)), 1) IN ('{', '[')
      |  THEN get_json_object(s, p) END""".stripMargin,

    // --- math (G:435) ---
    // Flink TRUNCATE(x, d): truncate toward zero at d decimals
    """CREATE OR REPLACE TEMPORARY FUNCTION TRUNCATE(x DOUBLE, d INT)
      |RETURNS DOUBLE RETURN CASE
      |  WHEN x >= 0 THEN floor(x * power(10, d)) / power(10, d)
      |  ELSE ceil(x * power(10, d)) / power(10, d)
      |END""".stripMargin,
    // Flink RAND_INTEGER(n): uniform int in [0, n)
    """CREATE OR REPLACE TEMPORARY FUNCTION RAND_INTEGER(n INT)
      |RETURNS INT RETURN CAST(floor(rand() * n) AS INT)""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION BITAND(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a & b""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITOR(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a | b""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITXOR(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a ^ b""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITNOT(a BIGINT) RETURNS BIGINT RETURN ~a""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BIT_LSHIFT(a BIGINT, n INT) RETURNS BIGINT RETURN shiftleft(a, n)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BIT_RSHIFT(a BIGINT, n INT) RETURNS BIGINT RETURN shiftright(a, n)""",

    // --- date/time (G:439) ---
    """CREATE OR REPLACE TEMPORARY FUNCTION IS_LEAP_YEAR(y INT)
      |RETURNS BOOLEAN RETURN (y % 4 = 0 AND y % 100 != 0) OR y % 400 = 0""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION DAYNAME(ts TIMESTAMP_NTZ)
      |RETURNS STRING RETURN date_format(ts, 'EEEE')""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION MONTHNAME(ts TIMESTAMP_NTZ)
      |RETURNS STRING RETURN date_format(ts, 'MMMM')""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION CURRENT_ROW_TIMESTAMP()
      |RETURNS TIMESTAMP RETURN current_timestamp()""".stripMargin,
    // TO_TIMESTAMP_LTZ(numeric, precision): epoch seconds (p=0) or millis (p=3)
    """CREATE OR REPLACE TEMPORARY FUNCTION TO_TIMESTAMP_LTZ(x BIGINT, p INT)
      |RETURNS TIMESTAMP RETURN CASE p
      |  WHEN 0 THEN timestamp_seconds(x)
      |  WHEN 3 THEN timestamp_millis(x)
      |  WHEN 6 THEN timestamp_micros(x)
      |END""".stripMargin,
    // Flink TIME_TRUNC-ish FLOOR(ts TO unit) handled by dialect; DATE_TRUNC native.

    // Flink CONVERT_TZ(ts_str, from_tz, to_tz) — Spark's convert_timezone
    // has (from, to, ts) order and timestamp types
    """CREATE OR REPLACE TEMPORARY FUNCTION CONVERT_TZ(ts STRING, ftz STRING, ttz STRING)
      |RETURNS STRING RETURN date_format(
      |  convert_timezone(ftz, ttz, CAST(ts AS TIMESTAMP_NTZ)), 'yyyy-MM-dd HH:mm:ss')""".stripMargin,

    // --- hash (G:463) ---
    """CREATE OR REPLACE TEMPORARY FUNCTION HASH_CODE(s STRING) RETURNS INT RETURN hash(s)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MURMUR_HASH(s STRING) RETURNS INT RETURN hash(s)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MURMUR_HASH_64(s STRING) RETURNS BIGINT RETURN xxhash64(s)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION XXH3_64(s STRING) RETURNS BIGINT RETURN xxhash64(s)""",
    // --- SHA family + misc Flink names without a same-name Spark builtin ---
    """CREATE OR REPLACE TEMPORARY FUNCTION SHA224(s STRING) RETURNS STRING RETURN sha2(s, 224)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION SHA256(s STRING) RETURNS STRING RETURN sha2(s, 256)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION SHA384(s STRING) RETURNS STRING RETURN sha2(s, 384)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION SHA512(s STRING) RETURNS STRING RETURN sha2(s, 512)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION WEEK(d DATE) RETURNS INT RETURN weekofyear(d)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION FROM_BASE64(s STRING) RETURNS STRING RETURN cast(unbase64(s) AS STRING)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TO_BASE64(s STRING) RETURNS STRING RETURN base64(cast(s AS BINARY))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION STRCMP(a STRING, b STRING) RETURNS INT
       RETURN CASE WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS INT)
                   WHEN a < b THEN -1 WHEN a = b THEN 0 ELSE 1 END""",
  )

  /** Names the shim registrations below actually used — appended as each
    * registers, so the UNLOAD list cannot drift from the registrations. */
  private val shimNamesSeen = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Name of a SQL UDF declaration — registerAll REFUSES a declaration this
    * cannot parse (a silent miss here would let the function escape
    * UNLOAD MODULE core and break the module-gating invariant). */
  private[graft] def sqlUdfName(ddl: String): String =
    """FUNCTION\s+`?(\w+)`?\s*\(""".r.findFirstMatchIn(ddl).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"core-module bookkeeping cannot parse the function name from: ${ddl.take(80)}"))
  private[graft] def sqlUdfNames: Seq[String] = sqlUdfs.map(sqlUdfName)

  /** The `core` module's full function catalog — what UNLOAD MODULE core
    * drops. Shim names come from the live registration record (populated on
    * first registerAll; the UNLOAD path always runs after one). */
  def functionNames: Seq[String] =
    sqlUdfNames ++ shimNamesSeen.toSeq ++ Seq("GCD", "LCM")

  /** The last shim registerAll registers (only the GCD/LCM Scala UDFs
    * follow it). */
  private val Sentinel = "quality_stats"

  /** Does the session already hold the catalog — a clone of a prepared
    * session included? Lets `GraftSession.prepare` skip a second
    * registration; the module path registers unconditionally. */
  def registeredIn(spark: SparkSession): Boolean =
    org.apache.spark.sql.graft.Shims.hasFunction(spark, Sentinel)

  /** Drop every `core`-module function from the session (UNLOAD MODULE core
    * / USE MODULES without core), so a later re-load re-registers.
    * Session-scoped: temp functions never leak across sessions, so other
    * gateway sessions keep theirs. */
  def unregisterAll(spark: SparkSession): Unit =
    functionNames.foreach { n =>
      try spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS `$n`")
      catch { case _: Exception => () }
    }

  /** Register everything into the session, replacing what is there. Names
    * that Spark already ships as builtins (e.g.
    * dayname/monthname/to_timestamp_ltz in 4.1) are left alone — the
    * builtin wins. */
  def registerAll(spark: SparkSession): Unit = {
    // Flink map construction/union is last-key-wins; Spark's default policy
    // throws on duplicate keys — align the session
    try spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    catch { case _: Exception => () }
    sqlUdfs.foreach { ddl =>
      try spark.sql(ddl)
      catch {
        case e: Exception if e.getMessage != null &&
          e.getMessage.contains("CANNOT_REPLACE_NON_SQL_UDF") => ()
      }
    }
    // every shim registration records its name so UNLOAD MODULE core drops
    // exactly what was registered — no hand-maintained copy to drift
    def shim(name: String)(builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
      shimNamesSeen.synchronized { shimNamesSeen += name }
      org.apache.spark.sql.graft.Shims.registerFunction(spark, name, builder)
    }
    // COLLECT(x) multiset kernel (single-pass element→count)
    shim("multiset_from_array")(args => MultisetFromArray(args.head))
    // COLLECT(x) as a DIRECT aggregate: buffer = element→count map,
    // O(distinct) memory — the collect_list intermediate OOM'd at sf100
    // (r16). The analyzer wraps a bare AggregateFunction in Complete mode.
    shim("multiset_agg")(args => MultisetAgg(args.head))
    // Flink collection-function names over generic element types: SQL UDFs
    // can't be generic, so these register the native Catalyst builders
    // under the Flink name (G:455)
    import org.apache.spark.sql.catalyst.expressions._
    shim("array_concat")(args => Concat(args))
    shim("array_reverse")(args => Reverse(args.head))
    // Flink ARRAY_SLICE(arr, start[, end]) takes INCLUSIVE offsets; Spark
    // Slice takes a length — translate, and default the end to the array end
    shim("array_slice")(args => {
      val end = args.lift(2).getOrElse(Size(args(0)))
      Slice(args(0), args(1), Add(Subtract(end, args(1)), Literal(1)))
    })
    shim("map_union")(args => MapConcat(args))
    shim("generate_series")(args => new Sequence(args(0), args(1), args.lift(2)))
    // pipeline kernels as SQL functions: a gateway user can run the dedup/
    // quality operators from plain SQL (SELECT simhash64(text) ... GROUP BY)
    // at kernel speed — all codegen'd expressions, no UDF boxing
    def litInt(e: Expression, what: String): Int = e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case x => throw new IllegalArgumentException(s"$what must be an integer literal, got $x")
    }
    shim("simhash64")(args => SimHash64(args.head))
    shim("phash64")(args => PHash64(args.head))
    shim("minhash_sig")(args =>
      MinHashSig(args(0), Cast(args(1), IntegerType), Cast(args(2), IntegerType)))
    shim("vec_dot")(args => VecDot(args(0), args(1)))
    shim("rolling_hashes")(args =>
      RollingHashes(args(0), Cast(args(1), IntegerType), Cast(args(2), LongType)))
    shim("word_ngrams")(args => WordNgrams(args(0),
      litInt(args(1), "word_ngrams n"),
      args.lift(2).exists(_.eval() == true)))
    shim(Sentinel)(args => QualityStats(args(0),
      graft.pipeline.TextAnalysis.StopWords))
    // GCD/LCM need iteration — Scala UDFs (rarely on a hot path).
    if (!spark.catalog.functionExists("gcd")) {
      spark.udf.register("GCD", (a: Long, b: Long) => {
        var x = math.abs(a); var y = math.abs(b)
        while (y != 0) { val t = x % y; x = y; y = t }
        x
      })
      spark.udf.register("LCM", (a: Long, b: Long) => {
        if (a == 0 || b == 0) 0L
        else {
          var x = math.abs(a); var y = math.abs(b)
          val a0 = x; val b0 = y
          while (y != 0) { val t = x % y; x = y; y = t }
          a0 / x * b0
        }
      })
    }
  }
}
