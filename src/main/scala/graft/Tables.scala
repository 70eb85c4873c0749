package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All timestamps are surfaced as TIMESTAMP_NTZ (wall-clock, no zone) to match
  * Flink's `TIMESTAMP(p)` semantics (reference grammar
  * syntaxes/flink.tmLanguage.json:175) and DuckDB's naive TIMESTAMP, so results
  * hash-compare across engines. Depending on the generator version,
  * `events.ts` arrives either as parquet TIMESTAMP(NANOS) — which Spark reads
  * as a long under legacy nanosAsLong, so we truncate to microseconds exactly
  * as DuckDB does for TIMESTAMP_NS → TIMESTAMP — or natively as TIMESTAMP(µs).
  * The loader detects which and normalizes both to TIMESTAMP_NTZ.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Accepted as-read types per fixture column (FIXTURES.md §2). The round-8
    * generator drift (`events.ts` switched parquet timestamp encoding) cost
    * 48 silently-zeroed gates and a crashed bench round before it was
    * root-caused; this table turns the NEXT drift into one load-time error
    * that names the table and column. Sets hold every encoding a column
    * legitimately arrives in (timestamps: NTZ vs instant inference,
    * nanos-as-long legacy; embeddings: float or double elements). */
  private val expectedSchemas: Map[String, Seq[(String, Set[String])]] = {
    val ts = Set("timestamp", "timestamp_ntz")
    Map(
      "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
      "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
        "n_regionkey" -> Set("int")),
      "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
        "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
        "c_mktsegment" -> Set("string")),
      "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
        "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
      "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
        "p_brand" -> Set("string"), "p_type" -> Set("string"),
        "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
      "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
        "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
        "o_orderdate" -> ts, "o_orderpriority" -> Set("string")),
      "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
        "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
        "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
        "l_discount" -> Set("double"), "l_tax" -> Set("double"),
        "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
        "l_shipdate" -> ts),
      "events" -> Seq("event_id" -> Set("bigint"),
        "ts" -> (ts + "bigint"), // bigint = TIMESTAMP(NANOS) under nanosAsLong
        "user_id" -> Set("bigint"), "event_type" -> Set("string"),
        "value" -> Set("double"), "props" -> Set("string")),
      "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
        "lang" -> Set("string"), "source" -> Set("string"),
        "n_chars" -> Set("bigint")),
      "embeddings" -> Seq("vec_id" -> Set("bigint"),
        "embedding" -> Set("array<float>", "array<double>"),
        "label" -> Set("int")))
  }

  /** Fail fast, naming the drifted column, when a fixture parquet no longer
    * matches FIXTURES.md. Extra columns are tolerated (additive generator
    * changes are benign); missing columns and type changes are not. */
  private[graft] def assertSchema(
      name: String, schema: org.apache.spark.sql.types.StructType): Unit =
    expectedSchemas.get(name).foreach { cols =>
      val actual = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      cols.foreach { case (cn, ok) =>
        actual.get(cn) match {
          case None => throw new IllegalStateException(
            s"testdata drift: table '$name' is missing column '$cn' " +
              s"(expected ${ok.mkString("|")}; present columns: " +
              s"${schema.fieldNames.mkString(", ")}) — the generator schema " +
              "changed; re-verify the gates reading it, then update " +
              "graft.Tables.expectedSchemas and FIXTURES.md")
          case Some(t) if !ok.contains(t) => throw new IllegalStateException(
            s"testdata drift: table '$name' column '$cn' arrived as $t, " +
              s"expected ${ok.mkString("|")} — the generator schema changed; " +
              "re-verify the gates reading it, then update " +
              "graft.Tables.expectedSchemas and FIXTURES.md")
          case _ => ()
        }
      }
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      assertSchema("events", raw.schema)
      val tsNorm = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as epoch-nanos long
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
        case _ => col("ts").cast("timestamp_ntz")
      }
      raw.withColumn("ts", tsNorm)
    case other =>
      val raw = spark.read.parquet(s"$sfDir/$other.parquet")
      assertSchema(other, raw.schema)
      raw
  }

  // memo keyed by the session OBJECT, weakly (as in FlinkFunctions): an
  // identityHashCode key can collide across sessions and silently skip
  // registration, and a strong key would pin closed sessions forever
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Register every test table as a temp view. Memoized per session (keyed on
    * the currently-registered dir, so switching dirs re-registers):
    * re-registration re-reads 10 parquet footers (~seconds) and was the
    * dominant cost of every SQL-surface query before this guard. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registered.get(spark) != sfDir) {
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      registered.put(spark, sfDir): Unit
    }
}
