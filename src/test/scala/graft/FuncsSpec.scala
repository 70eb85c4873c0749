package graft

import org.apache.spark.sql.functions._
import graft.operators.Windows

/** Functions whose outputs are engine-defined (no cross-engine oracle):
  * hashes, soundex, initcap, parse_url, width_bucket, RAND_INTEGER, GCD/LCM
  * edges, TRUNCATE sign behavior — plus streaming-mode use of the window
  * TVF operators (batch equivalence is DuckDB-gated).
  */
class FuncsSpec extends SparkTestBase {
  import spark.implicits._

  private def one(sqlText: String) =
    spark.sql(s"SELECT $sqlText AS v").head().get(0)

  test("engine-defined string functions behave per Spark contract") {
    assert(one("soundex('Robert')") == "R163")
    assert(one("initcap('flink sql toolkit')") == "Flink Sql Toolkit")
    assert(one("parse_url('https://h.io/p?q=1', 'HOST')") == "h.io")
    assert(one("parse_url('https://h.io/p?q=1', 'QUERY', 'q')") == "1")
    assert(one("crc32('abc')") == 891568578L)
    assert(one("conv('255', 10, 16)") == "FF")
  }

  test("CAST length semantics: explicit CHAR(n)/VARCHAR(n)/BINARY(n)/VARBINARY(n) trim/pad like Flink (r13 advisor find)") {
    // Flink (since 1.15, FLINK-24413) trims a CAST to CHAR(n)/VARCHAR(n)
    // to n code points (CHAR(n) also pads with spaces) and
    // BINARY(n)/VARBINARY(n) to n bytes (BINARY(n) zero-pads). Spark
    // parses the types but ERASES the length; the dialect rewrites these
    // casts into rpad/substring shims with exactly Flink's semantics.
    def dsql(q: String) = graft.engine.FlinkDialect.sql(spark, s"SELECT $q AS v").head().get(0)
    assert(dsql("CAST('abcdef' AS VARCHAR(3))") == "abc")   // trim
    assert(dsql("CAST('ab' AS VARCHAR(5))") == "ab")        // no pad
    assert(dsql("CAST('abcdef' AS CHAR(3))") == "abc")      // trim
    assert(dsql("CAST('ab' AS CHAR(4))") == "ab  ")         // pad
    assert(dsql("CAST(o AS VARCHAR(5)) FROM (SELECT 'xyz' AS o)") == "xyz")
    assert(dsql("CAST(12345 AS VARCHAR(2))") == "12")       // via to-string
    assert(dsql("TRY_CAST('abcdef' AS CHAR(2))") == "ab")
    assert(dsql("CAST('abcd' AS VARBINARY(2))").asInstanceOf[Array[Byte]].toSeq ==
      Seq[Byte](97, 98))
    assert(dsql("CAST('ab' AS BINARY(4))").asInstanceOf[Array[Byte]].toSeq ==
      Seq[Byte](97, 98, 0, 0))
    // nested: inner cast processed, outer shim applied
    assert(dsql("CAST(CAST(987 AS STRING) AS CHAR(2))") == "98")
    // non-length casts pass through untouched
    assert(dsql("CAST('7.25' AS DECIMAL(10,2))").toString == "7.25")
    // SQL-standard synonyms normalize instead of corrupting (r13 advisor
    // find: bare-CHAR rule used to turn CHAR VARYING(3) into STRING
    // VARYING(3), which no longer parses)
    assert(dsql("CAST('abcdef' AS CHAR VARYING(3))") == "abc")
    assert(dsql("CAST('abcdef' AS CHARACTER VARYING(3))") == "abc")
    assert(dsql("CAST('abcdef' AS CHARACTER(3))") == "abc")
  }

  test("DOCUMENTED DIVERGENCE: length-LESS VARCHAR/CHAR/VARBINARY/BYTES casts keep the full value (r12 SqlFuzz find, r13 scope pin)") {
    // Flink defaults a missing length to 1 and would TRIM — CAST('abc' AS
    // CHAR) = 'a' in Flink — a footgun virtually no real query intends
    // (the idiomatic Flink to-string cast is CAST(x AS STRING), and this
    // repo's own corpus uses bare VARCHAR to mean exactly that). The
    // dialect maps the bare forms to STRING/BINARY (full value) instead;
    // a caller wanting Flink's trim writes the explicit length and the
    // shims above give exact Flink behavior. Recorded in SURVEY §2.10.
    def dsql(q: String) = graft.engine.FlinkDialect.sql(spark, s"SELECT $q AS v").head().get(0)
    assert(dsql("CAST(42 AS VARCHAR)") == "42")   // Flink: '4'
    assert(dsql("CAST('abc' AS CHAR)") == "abc")  // Flink: 'a'
    assert(dsql("CAST('ab' AS BYTES)").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](97, 98))
    assert(dsql("CAST('ab' AS VARBINARY)").asInstanceOf[Array[Byte]].toSeq == Seq[Byte](97, 98))
    // the masked-literal contract still holds: a string containing the
    // word VARCHAR (or a CAST-shaped text) is untouched
    assert(dsql("'CAST AS VARCHAR'") == "CAST AS VARCHAR")
    assert(dsql("'CAST(x AS CHAR(2))'") == "CAST(x AS CHAR(2))")
  }

  test("DOCUMENTED DIVERGENCE: grouping sets over EMPTY input drop the global () row (r12 SqlFuzz find)") {
    // SQL standard (and DuckDB/Postgres): the empty grouping set aggregates
    // the whole (empty) input and yields ONE row with COUNT(*)=0. Spark
    // expands grouping sets into an Aggregate keyed by spark_grouping_id,
    // so empty input yields ZERO rows for every set, () included. This
    // pins Spark's behavior so a silent change (either direction) surfaces;
    // SURVEY §2.6 records it as a known divergence from the standard.
    val cube = spark.sql(
      "SELECT COUNT(*) AS c FROM (SELECT 1 AS x WHERE false) GROUP BY CUBE(x)")
    assert(cube.count() == 0L) // standard says 1 row (c=0)
    val plain = spark.sql(
      "SELECT COUNT(*) AS c FROM (SELECT 1 AS x WHERE false)")
    assert(plain.count() == 1L) // the non-grouping-sets global agg is standard
  }

  test("Flink shims: TRUNCATE toward zero, RAND_INTEGER bounds, GCD/LCM edges") {
    assert(one("truncate(3.789, 1)") == 3.7)
    assert(one("truncate(-3.789, 1)") == -3.7) // toward zero, not floor
    assert(one("truncate(123.456, 0)") == 123.0)
    val r = (1 to 50).map(_ => one("rand_integer(10)").asInstanceOf[Int])
    assert(r.forall(x => x >= 0 && x < 10))
    assert(one("gcd(0, 5)") == 5L)
    assert(one("gcd(-12, 18)") == 6L)
    assert(one("lcm(4, 6)") == 12L)
    assert(one("lcm(0, 7)") == 0L)
    assert(one("width_bucket(5.5, 0, 10, 5)") == 3L)
  }

  test("Flink hash-name shims are deterministic and stable") {
    assert(one("murmur_hash('abc')") == one("hash_code('abc')"))
    assert(one("murmur_hash_64('abc')") == one("xxh3_64('abc')"))
    assert(one("murmur_hash_64('abc')") != one("murmur_hash_64('abd')"))
  }

  test("IS_JSON family distinguishes objects, arrays, scalars, junk") {
    assert(one("is_json('{\"a\":1}')") == true)
    assert(one("is_json_object('{\"a\":1}')") == true)
    assert(one("is_json_array('[1,2]')") == true)
    assert(one("is_json_object('[1,2]')") == false)
    assert(one("is_json_scalar('42')") == true)
    assert(one("is_json('{broken')") == false)
  }

  test("window TVF operators run under Structured Streaming") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    // streaming append mode: group by the window STRUCT (event-time tag),
    // expose window_start/window_end after the aggregation
    val windowed = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(Windows.tumbleWindow("ts", "10 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"), col("cnt"))
    assert(windowed.isStreaming)
    val q = windowed.writeStream.outputMode("append").format("memory")
      .queryName("tvf_stream_out").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 3.0))
    q.processAllAvailable()
    mem.addData((java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tvf_stream_out").orderBy("window_start").collect()
    assert(rows.head.getAs[Long]("cnt") == 2L)
  }

  test("CUMULATE operator is streaming-compatible (projection only)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val c = Windows.cumulate(mem.toDF().toDF("ts", "v"), "ts", stepSec = 900, sizeSec = 3600)
    assert(c.isStreaming)
    assert(c.schema.fieldNames.contains("window_start") && c.schema.fieldNames.contains("window_end"))
  }
}
