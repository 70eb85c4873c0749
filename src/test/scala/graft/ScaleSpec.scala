package graft

import org.apache.spark.sql.functions._
import graft.engine.TableEnv
import graft.operators.SkewJoin

/** Scale primitives: salted skew joins, typed Dataset path, and the verbatim
  * corpus kafka DDL parse (F:11-30).
  */
object ScaleSpec {
  case class Line(l_orderkey: Long, l_quantity: Double, l_returnflag: String)
}

class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join equals plain join and spreads the hot key across salts") {
    // heavily skewed: 10k rows on key 1, a handful elsewhere
    val big = (Seq.fill(10000)(1) ++ Seq(2, 2, 3)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "row_id")
    val small = Seq((1, "one"), (2, "two"), (3, "three"), (4, "four")).toDF("sk", "label")
    val plain = big.join(small, col("k") === col("sk")).count()
    val salted = SkewJoin.saltedInnerJoin(big, "k", "row_id", small, "sk", salts = 8)
    assert(salted.count() == plain)
    // the hot key's rows really occupy multiple salt buckets
    val buckets = big.withColumn("__salt", pmod(xxhash64(col("row_id")), lit(8)))
      .filter(col("k") === 1).select("__salt").distinct().count()
    assert(buckets > 4)
  }

  test("typed Dataset[T] path: case-class encoder + groupByKey aggregation") {
    import ScaleSpec.Line
    val ds = Tables.load(spark, sfDir, "lineitem")
      .selectExpr("l_orderkey", "l_quantity", "l_returnflag").as[Line]
    val byFlag = ds.groupByKey(_.l_returnflag)
      .mapGroups((k, rows) => (k, rows.map(_.l_quantity).sum))
      .collect().toMap
    val sqlSide = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byFlag.keySet == sqlSide.keySet)
    byFlag.foreach { case (k, v) => assert(math.abs(v - sqlSide(k)) < 1e-6) }
  }

  test("kafka option translation: Flink connector properties → Spark source options") {
    val b = TableEnv.parseCreateTable(
      """CREATE TABLE kmeta (
        |  id BIGINT, name STRING
        |) WITH ('connector' = 'kafka', 'topic' = 't', 'format' = 'json',
        |        'properties.bootstrap.servers' = 'broker:9092',
        |        'properties.group.id' = 'cg',
        |        'scan.startup.mode' = 'latest-offset')""".stripMargin)
    val opts = TableEnv.kafkaSourceOptions(b)
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "t")
    assert(opts("startingOffsets") == "latest")
    assert(opts("kafka.group.id") == "cg")
    // timestamp startup: epoch millis go under startingTimestamp — the
    // startingOffsets key only accepts earliest/latest/offset-JSON and
    // would reject the millis at query start
    val bt = TableEnv.parseCreateTable(
      """CREATE TABLE kts (id BIGINT) WITH ('connector' = 'kafka', 'topic' = 't',
        |  'format' = 'json', 'scan.startup.mode' = 'timestamp',
        |  'scan.startup.timestamp-millis' = '1690000000000')""".stripMargin)
    val optsT = TableEnv.kafkaSourceOptions(bt)
    assert(optsT("startingTimestamp") == "1690000000000")
    assert(!optsT.contains("startingOffsets"), optsT.toString)
    val btBad = TableEnv.parseCreateTable(
      """CREATE TABLE kts2 (id BIGINT) WITH ('connector' = 'kafka', 'topic' = 't',
        |  'format' = 'json', 'scan.startup.mode' = 'timestamp')""".stripMargin)
    val em = intercept[IllegalArgumentException](TableEnv.kafkaSourceOptions(btBad))
    assert(em.getMessage.contains("timestamp-millis"))
    // the kafka connector jar is not shipped in this environment — the
    // source itself cannot instantiate here; the DataFrame assembly path is
    // identical to the (tested) datagen/filesystem streaming paths
    val e = intercept[org.apache.spark.sql.AnalysisException](TableEnv.streamDF(spark, b))
    assert(e.getMessage.contains("kafka"))
  }

  test("verbatim corpus kafka DDL (F:11-30) parses completely") {
    val b = TableEnv.parseCreateTable(
      """CREATE TABLE orders_kafka (
        |    order_id BIGINT,
        |    customer_id INT,
        |    product_name VARCHAR,
        |    price DECIMAL(10, 2),
        |    quantity INT,
        |    order_time TIMESTAMP(3),
        |    order_time_ltz TIMESTAMP_LTZ(3),
        |    ts AS PROCTIME(),
        |    WATERMARK FOR order_time AS order_time - INTERVAL '5' SECOND,
        |    PRIMARY KEY (order_id) NOT ENFORCED
        |) WITH (
        |    'connector' = 'kafka',
        |    'topic' = 'orders',
        |    'properties.bootstrap.servers' = 'localhost:9092',
        |    'properties.group.id' = 'flink-consumer',
        |    'format' = 'json',
        |    'scan.startup.mode' = 'earliest-offset',
        |    'json.ignore-parse-errors' = 'true'
        |)""".stripMargin)
    assert(b.connector == "kafka")
    assert(b.options("topic") == "orders")
    assert(b.watermark.contains(("order_time", "5 seconds")))
    assert(b.primaryKey == Seq("order_id"))
    val types = b.cols.map(c => c.name -> c.sparkType).toMap
    assert(types("order_time") == "TIMESTAMP_NTZ")      // wall-clock
    // instant — Spark's explicit LTZ type, so the SHOW CREATE TABLE →
    // CREATE TABLE round-trip is a fixpoint (r12; plain TIMESTAMP re-parsed
    // to TIMESTAMP_NTZ, silently turning the instant into wall-clock)
    assert(types("order_time_ltz") == "TIMESTAMP_LTZ")
    assert(types("price") == "DECIMAL(10, 2)")
    assert(b.cols.find(_.name == "ts").get.computed.contains("current_timestamp()"))
    // metadata-column corpus table (F:33-43)
    val m = TableEnv.parseCreateTable(
      """CREATE TABLE kafka_table (
        |    id BIGINT,
        |    name STRING,
        |    event_time TIMESTAMP(3) METADATA FROM 'timestamp' VIRTUAL,
        |    partition_id BIGINT METADATA FROM 'partition' VIRTUAL,
        |    WATERMARK FOR event_time AS event_time - INTERVAL '10' SECOND
        |) WITH ('connector' = 'kafka', 'topic' = 'test-topic', 'format' = 'debezium-json')""".stripMargin)
    assert(m.cols.find(_.name == "event_time").get.metadataFrom.contains("timestamp"))
    assert(m.cols.find(_.name == "partition_id").get.metadataFrom.contains("partition"))
  }

  test("events loader normalizes ts to TIMESTAMP_NTZ with real wall-clock values under either generator encoding") {
    // the round-8 bench crash: the generator switched events.ts from parquet
    // TIMESTAMP(NANOS) (read as long) to native TIMESTAMP(us), and the
    // unconditional epoch-nanos arithmetic broke analysis for every events
    // query. The loader must detect the encoding and always surface NTZ.
    val events = Tables.load(spark, sfDir, "events")
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType,
      events.schema("ts").dataType.toString)
    val yr = events.selectExpr("min(year(ts)) AS y", "max(year(ts)) AS z").head()
    assert(yr.getInt(0) >= 2000 && yr.getInt(1) <= 2100,
      s"ts values look like raw epoch numbers, not wall-clock: $yr")
  }

  test("two-phase cumulativeAgg == cumulate-then-aggregate, and explodes post-aggregation cardinality") {
    import graft.operators.Windows
    val events = Tables.load(spark, sfDir, "events")
    val twoPhase = Windows.cumulativeAgg(events, "ts", stepSec = 900, sizeSec = 3600,
        keys = Seq("event_type"),
        aggs = Seq(Windows.CumAgg.count("cnt"), Windows.CumAgg.dsum("value", "sum_value"),
          Windows.CumAgg.min("value", "min_v"), Windows.CumAgg.max("value", "max_v")))
      .select("window_start", "window_end", "event_type", "cnt", "sum_value", "min_v", "max_v")
    val rowExpansion = Windows.cumulate(events, "ts", stepSec = 900, sizeSec = 3600)
      .groupBy(col("window_start"), col("window_end"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)").as("sum_value"),
        min("value").as("min_v"), max("value").as("max_v"))
      .select("window_start", "window_end", "event_type", "cnt", "sum_value", "min_v", "max_v")
    assert(twoPhase.exceptAll(rowExpansion).isEmpty && rowExpansion.exceptAll(twoPhase).isEmpty)
    // scale shape: the explode (Generate) must sit ABOVE an Aggregate — row
    // expansion runs on grouped partials, not on the raw input
    val plan = twoPhase.queryExecution.optimizedPlan
    var generateSeen = false
    var aggBelowGenerate = false
    plan.foreach { n =>
      val name = n.getClass.getSimpleName
      if (name == "Generate")
        aggBelowGenerate = n.collectFirst {
          case a if a.getClass.getSimpleName == "Aggregate" => a
        }.isDefined
      if (name == "Generate") generateSeen = true
    }
    assert(generateSeen, plan.toString)
    assert(aggBelowGenerate, s"explode must run on post-agg cardinality:\n$plan")
  }

  test("two-phase windows: degenerate parameters (step==size, no keys, multi-key) stay exact") {
    import graft.operators.Windows
    val events = Tables.load(spark, sfDir, "events")
    val aggs = Seq(Windows.CumAgg.count("cnt"), Windows.CumAgg.dsum("value", "sv"))
    // step == size: CUMULATE degenerates to TUMBLE
    val cumTumble = Windows.cumulativeAgg(events, "ts", 3600, 3600, Seq("event_type"), aggs)
      .select("window_start", "window_end", "event_type", "cnt", "sv")
    val tumble = Windows.tumble(events, "ts", "3600 seconds")
      .groupBy(col("window_start"), col("window_end"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)").as("sv"))
      .select("window_start", "window_end", "event_type", "cnt", "sv")
    assert(cumTumble.exceptAll(tumble).isEmpty && tumble.exceptAll(cumTumble).isEmpty)
    // slide == size: HOP degenerates to TUMBLE
    val hopTumble = Windows.hopAggregate(events, "ts", 3600, 3600, Seq("event_type"), aggs)
      .select("window_start", "window_end", "event_type", "cnt", "sv")
    assert(hopTumble.exceptAll(tumble).isEmpty && tumble.exceptAll(hopTumble).isEmpty)
    // no grouping keys: global per-window aggregation
    val noKeys = Windows.cumulativeAgg(events, "ts", 900, 3600, Nil, aggs)
    val noKeysRef = Windows.cumulate(events, "ts", 900, 3600)
      .groupBy(col("window_start"), col("window_end"))
      .agg(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)").as("sv"))
    assert(noKeys.select("window_start", "window_end", "cnt", "sv")
      .exceptAll(noKeysRef.select("window_start", "window_end", "cnt", "sv")).isEmpty)
    // multi-key grouping
    val mk = Windows.hopAggregate(events, "ts", 300, 900, Seq("event_type", "user_id"), aggs)
    val mkRef = Windows.hop(events, "ts", "5 minutes", "15 minutes")
      .groupBy(col("window_start"), col("window_end"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)").as("sv"))
    val sel = Seq("window_start", "window_end", "event_type", "user_id", "cnt", "sv")
    assert(mk.select(sel.head, sel.tail: _*).exceptAll(mkRef.select(sel.head, sel.tail: _*)).isEmpty)
    // invalid parameters fail fast
    intercept[IllegalArgumentException](Windows.cumulativeAgg(events, "ts", 700, 3600, Nil, aggs))
    intercept[IllegalArgumentException](Windows.hopAggregate(events, "ts", 400, 900, Nil, aggs))
    intercept[IllegalArgumentException](Windows.cumulativeAgg(events, "ts", 900, 3600, Nil, Nil))
  }

  test("pane-based hopAggregate == native sliding-window aggregate") {
    import graft.operators.Windows
    val events = Tables.load(spark, sfDir, "events")
    val panes = Windows.hopAggregate(events, "ts", slideSec = 300, sizeSec = 900,
        keys = Seq("event_type"),
        aggs = Seq(Windows.CumAgg.count("cnt"), Windows.CumAgg.dsum("value", "sum_value"),
          Windows.CumAgg.min("value", "mn"), Windows.CumAgg.max("value", "mx")))
      .select("window_start", "window_end", "event_type", "cnt", "sum_value", "mn", "mx")
    val native = Windows.hop(events, "ts", "5 minutes", "15 minutes")
      .groupBy(col("window_start"), col("window_end"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(value as decimal(18,4))) as double)").as("sum_value"),
        min("value").as("mn"), max("value").as("mx"))
      .select("window_start", "window_end", "event_type", "cnt", "sum_value", "mn", "mx")
    assert(panes.exceptAll(native).isEmpty && native.exceptAll(panes).isEmpty)
    assert(panes.count() > 0)
  }

  test("CumulateTwoPhase rule: SQL-path CUMULATE aggregation rewrites to two-phase, results unchanged") {
    import graft.plans.CumulateTwoPhase
    val q = """SELECT window_start, window_end, event_type, COUNT(*) AS cnt
              |FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTES, INTERVAL '1' HOUR))
              |GROUP BY window_start, window_end, event_type""".stripMargin
    Tables.registerAll(spark, sfDir)
    val prev = spark.experimental.extraOptimizations
    try {
      CumulateTwoPhase.install(spark)
      val on = graft.engine.FlinkDialect.sql(spark, q)
      assert(on.queryExecution.optimizedPlan.treeString.contains("__cum_p0"),
        "rule did not fire on the dialect CUMULATE shape")
      val withRule = on.orderBy("window_start", "window_end", "event_type").collect().toSeq
      spark.experimental.extraOptimizations = Nil
      val off = graft.engine.FlinkDialect.sql(spark, q)
      assert(!off.queryExecution.optimizedPlan.treeString.contains("__cum_p0"))
      val noRule = off.orderBy("window_start", "window_end", "event_type").collect().toSeq
      assert(withRule == noRule)
      assert(withRule.nonEmpty)
      // the rule must NOT fire on a data-dependent sequence bound (stop is a
      // column): pre-grouping by unbounded keys would be unsafe to assume
      CumulateTwoPhase.install(spark)
      val dyn = spark.sql(
        """SELECT v, count(*) AS c FROM (
          |  SELECT explode(sequence(1, cast(user_id % 3 + 1 as int))) AS v FROM events
          |) GROUP BY v""".stripMargin)
      assert(!dyn.queryExecution.optimizedPlan.treeString.contains("__cum_p0"))
      assert(dyn.count() == 3)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("CumulateTwoPhase rule: non-decomposable shapes keep the original plan, decomposable ones stay exact") {
    import graft.plans.CumulateTwoPhase
    val prev = spark.experimental.extraOptimizations
    try {
      CumulateTwoPhase.install(spark)
      Tables.registerAll(spark, sfDir)
      def fired(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.treeString.contains("__cum_p0")
      val base = "(SELECT user_id, value, explode(sequence((user_id % 4 + 1) * 100, 400, 100)) AS es FROM events)"
      // DISTINCT aggregate: must not decompose (sum of per-bucket distinct != distinct)
      assert(!fired(spark.sql(s"SELECT es, count(DISTINCT user_id) c FROM $base GROUP BY es")))
      // aggregate over the exploded value itself: must not fire
      assert(!fired(spark.sql(s"SELECT user_id, sum(es) s FROM $base GROUP BY user_id")))
      // avg is not in the decomposable set: must not fire
      assert(!fired(spark.sql(s"SELECT es, avg(value) a FROM $base GROUP BY es")))
      // floating-point SUM: partial-then-merge changes accumulation structure
      // vs the unrewritten plan — must not fire
      assert(!fired(spark.sql(s"SELECT es, sum(value) s FROM $base GROUP BY es")))
      // try_sum: a per-bucket overflow becomes a NULL partial the merge would
      // silently skip — must not fire
      assert(!fired(spark.sql(s"SELECT es, try_sum(user_id) s FROM $base GROUP BY es")))
      // non-deterministic projection feeding a grouping key: per-row vs
      // per-partial evaluation differ — must not fire
      assert(!fired(spark.sql(
        s"SELECT k, count(*) c FROM (SELECT floor(rand(7) * es) AS k FROM $base) GROUP BY k")))
      // integral and decimal sums remain eligible
      assert(fired(spark.sql(s"SELECT es, sum(user_id) s FROM $base GROUP BY es")))
      assert(fired(spark.sql(
        s"SELECT es, sum(cast(value as decimal(18,4))) s FROM $base GROUP BY es")))
      // explode_outer: must not fire
      assert(!fired(spark.sql(
        "SELECT es, count(*) c FROM (SELECT explode_outer(sequence(100, 400, 100)) AS es FROM events) GROUP BY es")))
      // global aggregation (no keys) over the exploded value as the ONLY key
      // source: fires, and matches the rule-off result
      val q = s"SELECT es, count(*) cnt, min(value) mn FROM $base GROUP BY es"
      val on = spark.sql(q)
      assert(fired(on), on.queryExecution.optimizedPlan.treeString.take(1500))
      val onRows = on.orderBy("es").collect().toSeq
      spark.experimental.extraOptimizations = Nil
      val offRows = spark.sql(q).orderBy("es").collect().toSeq
      assert(onRows == offRows && onRows.nonEmpty)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("CumulateTwoPhase rule: anti-loop guard holds through interposed Projects") {
    import graft.plans.CumulateTwoPhase
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan, Project}
    val prev = spark.experimental.extraOptimizations
    try {
      CumulateTwoPhase.install(spark)
      Tables.registerAll(spark, sfDir)
      def nAggs(p: LogicalPlan) = p.collect { case a: Aggregate => a }.size
      val base = "(SELECT user_id, value, explode(sequence((user_id % 4 + 1) * 100, 400, 100)) AS es FROM events)"
      val optimized = spark.sql(s"SELECT es, sum(user_id) s FROM $base GROUP BY es")
        .queryExecution.optimizedPlan
      assert(optimized.treeString.contains("__cum_p0") && nAggs(optimized) == 2,
        optimized.treeString.take(1200))
      // re-applying the rule to its own output must be a no-op
      assert(nAggs(CumulateTwoPhase(optimized)) == 2)
      // ...including when the optimizer (e.g. ColumnPruning) has slid a
      // Project between our Generate and the phase-1 Aggregate — the exact
      // re-fire scenario: a third Aggregate layer would mean the guard
      // looked only at the Generate's direct child
      val wedged = optimized.transformUp {
        case g @ Generate(_, _, _, _, _, child: Aggregate) =>
          g.withNewChildren(Seq(Project(child.output, child)))
      }
      assert(nAggs(wedged) == 2)
      assert(nAggs(CumulateTwoPhase(wedged)) == 2,
        CumulateTwoPhase(wedged).treeString.take(1200))
    } finally spark.experimental.extraOptimizations = prev
  }

  test("CumulateTwoPhase rule: gateway sessions get the rule; results match rule-off") {
    // newSession() starts with no extra optimizer rules: a gateway session
    // must be prepared like the root or its CUMULATE plans run one-phase
    val gw = new graft.engine.Gateway(spark)
    val h = gw.openSession("cumulate")
    try {
      val s = gw.session(h).spark
      assert(s ne spark)
      // load the one table directly (not via Tables.registerAll) so nothing
      // but openSession can have set the session's rules
      Tables.load(s, sfDir, "events").createOrReplaceTempView("events")
      val q = """SELECT window_start, window_end, event_type, COUNT(*) AS cnt
                |FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTES, INTERVAL '1' HOUR))
                |GROUP BY window_start, window_end, event_type""".stripMargin
      val on = graft.engine.FlinkDialect.sql(s, q)
      assert(on.queryExecution.optimizedPlan.treeString.contains("__cum_p0"),
        s"rule did not fire on a gateway session " +
          s"(${s.experimental.extraOptimizations.size} extra rules)")
      val withRule = on.orderBy("window_start", "window_end", "event_type").collect().toSeq
      s.experimental.extraOptimizations = Nil // this session only
      val off = graft.engine.FlinkDialect.sql(s, q)
      assert(!off.queryExecution.optimizedPlan.treeString.contains("__cum_p0"))
      val noRule = off.orderBy("window_start", "window_end", "event_type").collect().toSeq
      assert(withRule.nonEmpty && withRule == noRule)
      assert(spark.experimental.extraOptimizations.contains(graft.plans.CumulateTwoPhase),
        "clearing a gateway session's rules must leave the root's")
    } finally gw.closeSession(h)
  }
}
