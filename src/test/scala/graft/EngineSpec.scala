package graft

import org.apache.spark.sql.functions._
import graft.engine.{FlinkDialect, Gateway, Jobs, TableEnv}

class EngineSpec extends SparkTestBase {

  test("driver contract: entry() returns rows and every query has unique aliased columns") {
    assert(SparkEntry.entry(spark).count() > 0) // driver's t1 smoke
    // every oracle key must have a query; columns must be analyzable
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle without query: $k")
    }
    // spot-check that query column names are unique (the driver sorts
    // columns by name before hashing — duplicates would be ambiguous)
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sfDir).columns
      assert(cols.distinct.length == cols.length, s"$name duplicate columns: ${cols.mkString(",")}")
    }
  }

  // ------------------------------------------------------------- splitter --

  test("split respects strings, comments and STATEMENT SET blocks") {
    val script =
      """CREATE TABLE t (s STRING) WITH ('connector' = 'datagen'); -- trailing; comment
        |SELECT 'a;b' AS x; /* block; comment */
        |BEGIN STATEMENT SET;
        |INSERT INTO a SELECT 1;
        |INSERT INTO b SELECT 2;
        |END;
        |SELECT 2""".stripMargin
    val stmts = FlinkDialect.split(script)
    assert(stmts.size == 4, stmts.mkString("\n---\n"))
    assert(stmts(1) == "SELECT 'a;b' AS x")
    assert(stmts(2).toUpperCase.startsWith("BEGIN STATEMENT SET"))
    assert(stmts(2).contains("INSERT INTO b"))
  }

  test("split keeps semicolons inside quoted identifiers and strings") {
    val stmts = FlinkDialect.split("SELECT `weird;name`, ';' FROM t; SELECT 1")
    assert(stmts.size == 2)
  }

  test("split: CASE ... END inside a STATEMENT SET does not close the block") {
    val stmts = FlinkDialect.split(
      """BEGIN STATEMENT SET;
        |INSERT INTO t SELECT CASE WHEN x > 0 THEN 1 ELSE 2 END FROM s;
        |INSERT INTO u SELECT 1;
        |END;
        |SELECT 9""".stripMargin)
    assert(stmts.size == 2, stmts.mkString("\n---\n"))
    assert(stmts.head.contains("INSERT INTO u"))
    assert(stmts.head.trim.toUpperCase.endsWith("END"))
  }

  test("rewrite never touches the inside of string literals") {
    val r = FlinkDialect.rewrite(
      "SELECT * FROM logs WHERE msg = 'code 0xFF' AND tag = 'a[1]' AND h = 'SHUFFLE_MERGE'")
    assert(r.contains("'code 0xFF'"))
    assert(r.contains("'a[1]'"))
    assert(r.contains("'SHUFFLE_MERGE'"))
    // ...but the same constructs outside literals are still rewritten
    val r2 = FlinkDialect.rewrite("SELECT 0xFF AS m, arr[1] AS e FROM t")
    assert(r2.contains("255") && r2.contains("try_element_at(arr, 1)"))
  }

  test("lowercase DDL routes to TableEnv and statement sets tolerate lowercase end") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val out = java.nio.file.Files.createTempDirectory("graft-lc").toString
    val p1 = gw.fetchResults(gw.executeStatement(h,
      "create temporary table lc_src (id bigint) with ('connector'='datagen','number-of-rows'='20')"), 0)
    assert(p1.rows.head.head.toString.contains("lc_src"), p1.rows)
    gw.executeStatement(h,
      s"create table lc_snk (id bigint) with ('connector'='filesystem','path'='$out','format'='parquet')")
    val op = gw.executeStatement(h,
      "begin statement set;\ninsert into lc_snk select id from lc_src;\nend")
    assert(gw.fetchResults(op, 0).rows.head.head.toString.contains("1 inserts"))
    assert(spark.read.parquet(out).count() == 20)
  }

  test("SHOW CLUSTER OVERVIEW / SHOW TASK MANAGERS surface executor slot state") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val ov = gw.fetchResults(gw.executeStatement(h, "SHOW CLUSTER OVERVIEW"), 0)
    assert(ov.columns == Seq("version", "taskmanagers", "slots_total", "slots_available",
      "jobs_running", "jobs_finished", "jobs_cancelled", "jobs_failed"), ov.columns.toString)
    val row = ov.rows.head
    assert(row(0).toString == spark.version)
    assert(row(1).toString.toInt >= 1)        // at least the driver executor
    assert(row(2).toString.toInt >= 1)        // task slots = cores
    assert(row(3).toString.toInt <= row(2).toString.toInt)
    val tms = gw.fetchResults(gw.executeStatement(h, "SHOW TASK MANAGERS"), 0)
    assert(tms.columns == Seq("tm_id", "running_tasks", "used_storage_bytes",
      "total_storage_bytes", "cached_bytes"), tms.columns.toString)
    assert(tms.rows.nonEmpty)
    assert(tms.rows.head.head.toString.contains(":")) // host:port id
  }

  test("SOURCE_WATERMARK(): DDL maps to a zero-delay watermark, query use fails fast") {
    val b = TableEnv.parseCreateTable(
      """CREATE TABLE sw (id BIGINT, ts TIMESTAMP(3),
        |  WATERMARK FOR ts AS SOURCE_WATERMARK()
        |) WITH ('connector'='datagen','number-of-rows'='5')""".stripMargin)
    assert(b.watermark.contains(("ts", "0 seconds")))
    val err = intercept[IllegalArgumentException] {
      FlinkDialect.rewrite("SELECT SOURCE_WATERMARK() FROM t")
    }
    assert(err.getMessage.contains("SOURCE_WATERMARK"))
    // ...but the name inside a string literal is untouched
    assert(FlinkDialect.rewrite("SELECT 'SOURCE_WATERMARK()' AS s FROM t")
      .contains("'SOURCE_WATERMARK()'"))
  }

  test("DDL parses computed columns containing comparison operators") {
    val b = TableEnv.parseCreateTable(
      "CREATE TABLE t (a INT, is_big AS quantity > 10, c INT, d STRING) WITH ('connector'='datagen')")
    assert(b.cols.map(_.name) == Seq("a", "is_big", "c", "d"))
    assert(b.cols.find(_.name == "is_big").get.computed.isDefined)
  }

  test("gateway sessions have the Flink function surface registered") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val page = gw.fetchResults(gw.executeStatement(h,
      "SELECT split_index('a,b,c', ',', 1) AS x, dsum4(CAST(v AS DOUBLE)) AS s FROM VALUES (1.0), (2.5) AS t(v)"), 0)
    assert(page.columns != Seq("error"), page.rows)
    assert(page.rows.head(0) == "b")
    assert(page.rows.head(1) == 3.5)
  }

  // ------------------------------------------------------------- rewriter --

  test("rewrite translates hints, PROCTIME, ELEMENT, subscripts") {
    val r = FlinkDialect.rewrite(
      "SELECT /*+ STATE_TTL('o'='1h') */ PROCTIME() AS p, arr[2] AS e FROM t")
    assert(!r.contains("STATE_TTL"))
    assert(r.contains("current_timestamp()"))
    assert(r.contains("try_element_at(arr, 2)"))
    val h = FlinkDialect.rewrite("SELECT /*+ SHUFFLE_MERGE(a) */ * FROM a JOIN b ON a.x = b.x")
    assert(h.contains("/*+ MERGE(a) */"))
  }

  test("dialect hardening: SIMILAR TO literals, session pair aliasing, subscript LHS, OOB NULL, TIMESTAMP NTZ") {
    import spark.implicits._
    // SIMILAR TO: '.' is a LITERAL in SQL SIMILAR TO — 'a.b' must not match 'aXb'
    val dot = spark.sql(FlinkDialect.rewrite(
      "SELECT v FROM VALUES ('a.b'), ('aXb') AS t(v) WHERE v SIMILAR TO 'a.b'")).collect()
    assert(dot.map(_.getString(0)).toSeq == Seq("a.b"), dot.mkString(","))
    // ...while % and _ still translate ('_' any one char)
    val pct = spark.sql(FlinkDialect.rewrite(
      "SELECT v FROM VALUES ('abc'), ('ac') AS t(v) WHERE v SIMILAR TO 'a_c'")).collect()
    assert(pct.map(_.getString(0)).toSeq == Seq("abc"))
    // multi-argument call LHS must capture the WHOLE call, not truncate at a space
    val castLhs = FlinkDialect.rewrite("SELECT * FROM t WHERE CAST(x AS STRING) SIMILAR TO 'a%'")
    assert(castLhs.contains("regexp_like(CAST(x AS STRING), '^a.*$')"), castLhs)
    val multiArg = spark.sql(FlinkDialect.rewrite(
      "SELECT v FROM VALUES (12), (34) AS t(v) WHERE CAST(v AS STRING) SIMILAR TO '1%'")).collect()
    assert(multiArg.map(_.getInt(0)).toSeq == Seq(12))
    // ORDER BY window_start, window_end after a SESSION TVF must not get AS aliases
    val sess = FlinkDialect.rewrite(
      """SELECT window_start, window_end, COUNT(*) AS c
        |FROM TABLE(SESSION(TABLE ev, DESCRIPTOR(ts), INTERVAL '5' MINUTE))
        |GROUP BY window_start, window_end
        |ORDER BY window_start, window_end""".stripMargin)
    assert(sess.toUpperCase.indexOf(" AS WINDOW_END") ==
      sess.toUpperCase.lastIndexOf(" AS WINDOW_END"), sess)
    assert(!sess.toUpperCase.replaceAll("\\s+", " ")
      .matches("(?s).*ORDER BY.*\\bAS WINDOW_START\\b.*"), sess)
    // subscripted LHS of a quantified comparison parses and evaluates
    val sub = spark.sql(FlinkDialect.rewrite(
      "SELECT ARRAY[1, 9][2] = ANY (SELECT v FROM VALUES (9), (3) AS t(v)) AS r")).head.get(0)
    assert(sub == true)
    // out-of-range subscripts are NULL (Flink), not an ANSI runtime error
    val oob = spark.sql(FlinkDialect.rewrite(
      "SELECT ARRAY[1, 2][5] AS a, MAP['k', 1]['missing'] AS m")).head
    assert(oob.isNullAt(0) && oob.isNullAt(1))
    // bare TIMESTAMP is Flink wall-clock (≡ TIMESTAMP(6)) → NTZ, same as
    // the precisioned form; TIMESTAMP_LTZ keeps instant semantics
    val c = spark.sql(FlinkDialect.rewrite("SELECT CAST('2024-01-02 03:04:05' AS TIMESTAMP) AS t"))
    assert(c.schema("t").dataType == org.apache.spark.sql.types.TimestampNTZType, c.schema.toString)
    val l = spark.sql(FlinkDialect.rewrite("SELECT CAST('2024-01-02 03:04:05' AS TIMESTAMP_LTZ) AS t"))
    assert(l.schema("t").dataType == org.apache.spark.sql.types.TimestampType, l.schema.toString)
  }

  test("view conflict semantics and DROP TEMPORARY VIEW fallthrough") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    assert(run("CREATE VIEW v_conf AS SELECT 1 AS x").columns != Seq("error"))
    // IF NOT EXISTS no-ops; plain CREATE fails; OR REPLACE redefines
    run("CREATE VIEW IF NOT EXISTS v_conf AS SELECT 2 AS x")
    val sess = gw.session(h).spark
    assert(sess.sql("SELECT x FROM v_conf").head.getInt(0) == 1,
      "IF NOT EXISTS must not redefine an existing view")
    assert(run("CREATE VIEW v_conf AS SELECT 3 AS x").rows.head.head.toString
      .contains("already exists"))
    run("CREATE OR REPLACE VIEW v_conf AS SELECT 4 AS x")
    assert(sess.sql("SELECT x FROM v_conf").head.getInt(0) == 4)
    // DROP TEMPORARY VIEW IF EXISTS on a missing view is a quiet no-op,
    // not a ParseException from Spark's TEMPORARY-less grammar
    val d = run("DROP TEMPORARY VIEW IF EXISTS never_created_view")
    assert(d.columns != Seq("error"), d.rows.toString)
  }

  test("OPTIONS hint binds to the table it is attached to, not the first FROM") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    run("CREATE TABLE oh_a (id BIGINT) WITH ('connector'='datagen','number-of-rows'='5')")
    run("CREATE TABLE oh_b (id BIGINT) WITH ('connector'='datagen','number-of-rows'='5')")
    // hint attached to the JOINED table must override THAT binding: raising
    // oh_b's row count changes the join cardinality; if the hint were
    // misapplied to oh_a the count would stay 5
    val page = run(
      """SELECT COUNT(*) AS n FROM oh_a a
        |JOIN oh_b /*+ OPTIONS('number-of-rows'='7') */ b ON a.id = b.id""".stripMargin)
    assert(page.columns != Seq("error"), page.rows.toString)
    assert(page.rows.head.head.toString == "5", page.rows.toString) // join of 5 x 7 on id
    // and the overridden binding really materialized 7 rows
    val shadows = gw.session(h).spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("oh_b__opts"))
    assert(shadows.nonEmpty, "no shadow view for the hinted binding")
    assert(gw.session(h).spark.table(shadows.head).count() == 7)
  }

  test("quantified ANY/SOME/ALL subquery comparisons are NULL-correct") {
    def run(expr: String): Any =
      spark.sql(FlinkDialect.rewrite(s"SELECT $expr AS r")).head().get(0)
    // empty set: ALL → TRUE, ANY → FALSE
    assert(run("5 > ALL (SELECT v FROM VALUES (1) AS t(v) WHERE v > 99)") == true)
    assert(run("5 > ANY (SELECT v FROM VALUES (1) AS t(v) WHERE v > 99)") == false)
    // decided by a witness row
    assert(run("5 > ALL (SELECT v FROM VALUES (1), (4) AS t(v))") == true)
    assert(run("5 > ALL (SELECT v FROM VALUES (1), (7) AS t(v))") == false)
    assert(run("5 > SOME (SELECT v FROM VALUES (7), (4) AS t(v))") == true)
    assert(run("5 <= ALL (SELECT v FROM VALUES (5), (9) AS t(v))") == true)
    // NULLs in the set: a deciding witness still wins, otherwise UNKNOWN
    assert(run("5 > ALL (SELECT v FROM VALUES (7), (CAST(NULL AS INT)) AS t(v))") == false)
    assert(run("5 > ALL (SELECT v FROM VALUES (1), (CAST(NULL AS INT)) AS t(v))") == null)
    assert(run("5 > ANY (SELECT v FROM VALUES (1), (CAST(NULL AS INT)) AS t(v))") == true)
    assert(run("5 > ANY (SELECT v FROM VALUES (9), (CAST(NULL AS INT)) AS t(v))") == null)
    // NULL needle against a non-empty set
    assert(run("CAST(NULL AS INT) > ALL (SELECT v FROM VALUES (1) AS t(v))") == null)
    assert(run("CAST(NULL AS INT) > ALL (SELECT v FROM VALUES (1) AS t(v) WHERE v > 99)") == true)
    // equality family (= ANY → IN, <> ALL → NOT IN, aggregate forms otherwise)
    assert(run("3 = ANY (SELECT v FROM VALUES (1), (3) AS t(v))") == true)
    assert(run("3 <> ALL (SELECT v FROM VALUES (1), (2) AS t(v))") == true)
    assert(run("3 <> ALL (SELECT v FROM VALUES (1), (3) AS t(v))") == false)
    assert(run("3 = ALL (SELECT v FROM VALUES (3), (3) AS t(v))") == true)
    assert(run("3 = ALL (SELECT v FROM VALUES (3), (4) AS t(v))") == false)
    assert(run("3 = ALL (SELECT v FROM VALUES (3), (CAST(NULL AS INT)) AS t(v))") == null)
    assert(run("3 <> ANY (SELECT v FROM VALUES (3), (4) AS t(v))") == true)
    assert(run("3 <> ANY (SELECT v FROM VALUES (3), (3) AS t(v))") == false)
    // quantifier keywords inside string literals stay untouched
    val lit = FlinkDialect.rewrite("SELECT 'x > ALL (SELECT 1)' AS s FROM t")
    assert(lit.contains("'x > ALL (SELECT 1)'"))
    // compound LHS: the whole operator chain binds, not the last token
    assert(run("2 * 3 > ALL (SELECT v FROM VALUES (5) AS t(v))") == true)
    assert(run("2 * 3 > ALL (SELECT v FROM VALUES (7) AS t(v))") == false)
    assert(run("'a' || 'b' = ANY (SELECT v FROM VALUES ('ab') AS t(v))") == true)
    assert(run("10 - 4 - 1 <= ALL (SELECT v FROM VALUES (5), (9) AS t(v))") == true)
    // keyword LHS (CASE ... END) fails with a named hint, never mangled SQL
    val err = intercept[IllegalArgumentException] {
      FlinkDialect.rewrite(
        "SELECT CASE WHEN x THEN 1 ELSE 2 END > ALL (SELECT v FROM VALUES (1) t(v)) FROM t")
    }
    assert(err.getMessage.contains("parentheses"))
    // unary sign binds into the operand (clause start, keyword, operator):
    // `- (CASE ...)` would fail analysis as unary minus over boolean
    assert(run("-5 > ALL (SELECT v FROM VALUES (-7), (-9) AS t(v))") == true)
    assert(run("-5 > ALL (SELECT v FROM VALUES (-3) AS t(v))") == false)
    assert(run("2 * -3 >= ALL (SELECT v FROM VALUES (-6), (-7) AS t(v))") == true)
    assert(run("+5 > ANY (SELECT v FROM VALUES (4) AS t(v))") == true)
    // binary minus still extends over the whole chain
    assert(run("10 - 5 > ALL (SELECT v FROM VALUES (4) AS t(v))") == true)
    // row-value LHS fails with named guidance, not unresolvable SQL
    val rowErr = intercept[IllegalArgumentException] {
      FlinkDialect.rewrite(
        "SELECT * FROM t WHERE (a, b) = ANY (SELECT x, y FROM u)")
    }
    assert(rowErr.getMessage.contains("row-value"))
    // non-deterministic subquery rejected loudly (the rewrite would
    // evaluate the set more than once)
    val ndErr = intercept[IllegalArgumentException] {
      FlinkDialect.rewrite(
        "SELECT 5 > ALL (SELECT rand() FROM VALUES (1) AS t(v)) AS r")
    }
    assert(ndErr.getMessage.contains("non-deterministic"))
  }

  // ------------------------------------------------------------- TableEnv --

  test("CREATE TABLE datagen parses schema, registers, batch-materializes") {
    TableEnv.clear()
    val b = TableEnv.createTable(spark,
      """CREATE TABLE gen_orders (
        |  order_id BIGINT,
        |  price DECIMAL(10, 2),
        |  quantity INT,
        |  order_time TIMESTAMP(3),
        |  ts AS PROCTIME(),
        |  WATERMARK FOR order_time AS order_time - INTERVAL '5' SECOND,
        |  PRIMARY KEY (order_id) NOT ENFORCED
        |) WITH ('connector' = 'datagen', 'number-of-rows' = '64')""".stripMargin)
    assert(b.connector == "datagen")
    assert(b.watermark.contains(("order_time", "5 seconds")))
    assert(b.primaryKey == Seq("order_id"))
    val df = spark.table("gen_orders")
    assert(df.count() == 64)
    assert(df.schema("order_time").dataType.typeName == "timestamp_ntz")
    assert(df.schema.fieldNames.contains("ts")) // computed PROCTIME col
    // deterministic synthesis
    val a1 = df.select(sum(col("order_id"))).head().getLong(0)
    val a2 = spark.table("gen_orders").select(sum(col("order_id"))).head().getLong(0)
    assert(a1 == a2)
  }

  test("CREATE TABLE maps ROW/ARRAY/MAP/MULTISET types") {
    val b = TableEnv.parseCreateTable(
      """CREATE TABLE nested_table (
        |  id BIGINT,
        |  info ROW<name STRING, age INT>,
        |  tags ARRAY<STRING>,
        |  properties MAP<STRING, STRING>,
        |  metadata MULTISET<STRING>
        |) WITH ('connector' = 'datagen')""".stripMargin)
    val types = b.cols.map(c => c.name -> c.sparkType).toMap
    assert(types("info") == "STRUCT<name: STRING, age: INT>")
    assert(types("tags") == "ARRAY<STRING>")
    assert(types("properties") == "MAP<STRING, STRING>")
    assert(types("metadata") == "MAP<STRING, INT>")
  }

  test("CREATE TABLE maps RAW('class','snapshot') to an opaque BINARY passthrough") {
    // RAW is Flink's serialized-object type; SQL can only carry it through
    // (no class on a SQL engine's classpath) — BINARY is that exact shape
    val b = TableEnv.parseCreateTable(
      """CREATE TABLE raw_table (
        |  id BIGINT,
        |  payload RAW('com.example.MyType', 'AEdjb20uZXhhbXBsZQ=='),
        |  name STRING
        |) WITH ('connector' = 'datagen')""".stripMargin)
    val types = b.cols.map(c => c.name -> c.sparkType).toMap
    assert(types("payload") == "BINARY", types.toString)
    assert(types("id") == "BIGINT" && types("name") == "STRING")
  }

  test("filesystem connector reads parquet via binding") {
    TableEnv.clear()
    TableEnv.createTable(spark,
      s"""CREATE TABLE fs_nation (
         |  n_nationkey INT, n_name STRING, n_regionkey INT
         |) WITH ('connector' = 'filesystem', 'path' = '${sf("nation.parquet")}', 'format' = 'parquet')""".stripMargin)
    assert(spark.table("fs_nation").count() == 25)
  }

  // -------------------------------------------------------------- Gateway --

  test("gateway: session lifecycle, DDL routing, paged results") {
    val gw = new Gateway(spark)
    val h = gw.openSession("test")
    // DDL through the gateway
    val op1 = gw.executeStatement(h,
      "CREATE TABLE g1 (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='2500')")
    val p1 = gw.fetchResults(op1, 0)
    assert(p1.eos && p1.rows.head.head.toString.contains("g1"))
    // query with paging (2500 rows, 1000/page)
    val op2 = gw.executeStatement(h, "SELECT id FROM g1 ORDER BY id")
    val page0 = gw.fetchResults(op2, 0)
    assert(page0.rows.size == 1000 && !page0.eos && page0.nextToken.contains(1))
    val page2 = gw.fetchResults(op2, 2)
    assert(page2.rows.size == 500 && page2.eos)
    // SET / RESET
    val op3 = gw.executeStatement(h, "SET 'table.exec.state.ttl' = '1h'")
    assert(gw.fetchResults(op3, 0).eos)
    // session recovery
    gw.closeSession(h)
    val h2 = gw.getOrRecreate(h)
    assert(h2 != h)
    intercept[IllegalStateException](gw.session(h))
  }

  test("gateway: large batch SELECT is served page-by-page with bounded driver memory") {
    val gw = new Gateway(spark)
    val h = gw.openSession("paging")
    // 250 pages worth of rows: a full collect() would materialize 250k rows
    // on the driver; lazy paging must hold only the retention window
    gw.executeStatement(h,
      "CREATE TABLE big_src (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='250000')")
    val op = gw.executeStatement(h, "SELECT id, v FROM big_src")
    val page0 = gw.fetchResults(op, 0)
    assert(page0.rows.size == gw.pageSize && !page0.eos && page0.nextToken.contains(1))
    // bounded: after one page the iterator is nowhere near drained — total
    // page count unknown, exactly one page materialized and cached
    val (mat0, cached0, total0) = gw.opDiagnostics(op)
    assert(mat0 == 1 && cached0 == 1 && total0.isEmpty,
      s"first fetch must not drain the result: materialized=$mat0 cached=$cached0 total=$total0")
    // walk forward a dozen pages: materialization tracks the client's token,
    // the cached window stays within the retention bound
    var tok = 1
    while (tok <= 12) { assert(gw.fetchResults(op, tok).rows.size == gw.pageSize); tok += 1 }
    val (mat1, cached1, total1) = gw.opDiagnostics(op)
    assert(mat1 == 13 && cached1 <= 8 && total1.isEmpty,
      s"paging must stay lazy and windowed: materialized=$mat1 cached=$cached1 total=$total1")
    // idempotent re-fetch inside the retention window: same rows, no restart
    val again = gw.fetchResults(op, 12)
    assert(again.rows.size == gw.pageSize)
    assert(gw.opDiagnostics(op)._1 == 13, "re-fetch of a cached page must not advance the iterator")
    // a token older than the window restarts the iterator and still returns
    // the right page (documented rare-client slow path)
    val old = gw.fetchResults(op, 0)
    assert(old.rows.size == gw.pageSize)
    // drain to EOS: the final page count lands and is consistent
    var page = gw.fetchResults(op, 1)
    tok = 2
    while (!page.eos) { page = gw.fetchResults(op, tok); tok += 1 }
    assert(gw.opDiagnostics(op)._3.contains(250))
    gw.closeSession(h)
  }

  test("views over bindings: CREATE/SHOW CREATE/DESCRIBE/DROP VIEW; ALTER TABLE SET/RENAME") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val s = gw.session(h).spark
    gw.executeStatement(h,
      "CREATE TABLE v_src (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='40')")
    // CREATE TEMPORARY VIEW over the binding, body in Flink dialect (F:77-90)
    val mk = gw.fetchResults(gw.executeStatement(h,
      "CREATE TEMPORARY VIEW v_even AS SELECT id FROM v_src WHERE id >= 0"), 0)
    assert(mk.rows.head.head.toString.contains("v_even"))
    val cnt = gw.fetchResults(gw.executeStatement(h, "SELECT COUNT(*) AS n FROM v_even"), 0)
    assert(cnt.rows.head.head.toString.toLong == 40)
    // DESCRIBE of the view shows columns (native path)
    val d = gw.fetchResults(gw.executeStatement(h, "DESCRIBE v_even"), 0)
    assert(d.rows.exists(_.head.toString == "id"))
    // SHOW CREATE VIEW reconstructs the stored definition
    val sc = gw.fetchResults(gw.executeStatement(h, "SHOW CREATE VIEW v_even"), 0)
    assert(sc.rows.head.head.toString.contains("CREATE TEMPORARY VIEW `v_even` AS SELECT id"))
    // ALTER TABLE SET on the binding takes effect for subsequent reads (F:96)
    gw.executeStatement(h, "ALTER TABLE v_src SET ('number-of-rows' = '10')")
    val cnt2 = gw.fetchResults(gw.executeStatement(h, "SELECT COUNT(*) AS n FROM v_src"), 0)
    assert(cnt2.rows.head.head.toString.toLong == 10)
    assert(TableEnv.lookup("v_src").get.options("number-of-rows") == "10")
    // ALTER TABLE RENAME TO (F:98)
    gw.executeStatement(h, "ALTER TABLE v_src RENAME TO v_src2")
    assert(TableEnv.lookup("v_src").isEmpty && TableEnv.lookup("v_src2").isDefined)
    val cnt3 = gw.fetchResults(gw.executeStatement(h, "SELECT COUNT(*) AS n FROM v_src2"), 0)
    assert(cnt3.rows.head.head.toString.toLong == 10)
    val gone = gw.fetchResults(gw.executeStatement(h, "SELECT * FROM v_src"), 0)
    assert(gone.columns == Seq("error"))
    // DROP VIEW
    gw.fetchResults(gw.executeStatement(h, "DROP VIEW v_even"), 0)
    val gone2 = gw.fetchResults(gw.executeStatement(h, "SELECT * FROM v_even"), 0)
    assert(gone2.columns == Seq("error"))
  }

  test("OPTIONS hint overrides binding options for one query only") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE oh_src (id BIGINT) WITH ('connector'='datagen','number-of-rows'='50')")
    val hinted = gw.fetchResults(gw.executeStatement(h,
      "SELECT /*+ OPTIONS('number-of-rows'='10') */ COUNT(*) AS n FROM oh_src"), 0)
    assert(hinted.rows.head.head.toString.toLong == 10)
    // the binding itself is untouched
    val plain = gw.fetchResults(gw.executeStatement(h,
      "SELECT COUNT(*) AS n FROM oh_src"), 0)
    assert(plain.rows.head.head.toString.toLong == 50)
  }

  test("kafka specific-offsets translate to Spark startingOffsets JSON") {
    val b = TableEnv.parseCreateTable(
      """CREATE TABLE ko (id BIGINT) WITH ('connector'='kafka','topic'='t1',
        |  'scan.startup.mode'='specific-offsets',
        |  'scan.startup.specific-offsets'='partition:0,offset:42;partition:1,offset:300')""".stripMargin)
    assert(TableEnv.kafkaSourceOptions(b)("startingOffsets") ==
      """{"t1":{"0":42,"1":300}}""")
  }

  test("CREATE TABLE ... LIKE inherits schema/options with modifier subset") {
    TableEnv.clear()
    TableEnv.createTable(spark,
      """CREATE TABLE like_base (
        |  id BIGINT, v DOUBLE,
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
        |  ts TIMESTAMP(3),
        |  PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'kafka', 'topic' = 'base', 'format' = 'json')""".stripMargin)
    // bare LIKE: full inheritance, options overridden on top
    val t2 = TableEnv.createTable(spark,
      "CREATE TABLE like_t2 WITH ('topic' = 'override') LIKE like_base")
    assert(t2.cols.map(_.name) == Seq("id", "v", "ts"))
    assert(t2.primaryKey == Seq("id") && t2.watermark.isDefined)
    assert(t2.options("topic") == "override" && t2.options("connector") == "kafka")
    // extra columns append; EXCLUDING OPTIONS/CONSTRAINTS drop those parts
    val t3 = TableEnv.createTable(spark,
      """CREATE TABLE like_t3 (extra STRING) WITH ('connector' = 'blackhole')
        |LIKE like_base (EXCLUDING OPTIONS EXCLUDING CONSTRAINTS)""".stripMargin)
    assert(t3.cols.map(_.name) == Seq("id", "v", "ts", "extra"))
    assert(t3.primaryKey.isEmpty && t3.options == Map("connector" -> "blackhole"))
    // a computed column containing LIKE must not trigger the clause
    val t4 = TableEnv.createTable(spark,
      """CREATE TABLE like_t4 (s STRING, flag AS s LIKE 'x%')
        |WITH ('connector' = 'datagen', 'number-of-rows' = '3')""".stripMargin)
    assert(t4.cols.exists(_.computed.isDefined))
  }

  test("gateway routes FOR SYSTEM_TIME AS OF SQL to the as-of operator") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val s = gw.session(h).spark
    import s.implicits._
    Seq((1, "2024-01-01 00:00:00", 100.0), (1, "2024-01-01 00:00:08", 200.0))
      .toDF("id", "rts", "rate").withColumn("rts", $"rts".cast("timestamp"))
      .createOrReplaceTempView("rates_v")
    Seq((1, 1000, "2023-12-31 00:00:00"), (1, 1001, "2024-01-01 00:00:05"),
        (1, 1002, "2024-01-01 00:00:09"))
      .toDF("id", "oid", "ots").withColumn("ots", $"ots".cast("timestamp"))
      .createOrReplaceTempView("orders_v")
    // INNER: pre-history order 1000 drops; 1001 sees v100, 1002 sees v200
    val inner = gw.fetchResults(gw.executeStatement(h,
      """SELECT o.oid, r.rate FROM orders_v AS o
        |JOIN rates_v FOR SYSTEM_TIME AS OF o.ots AS r
        |ON o.id = r.id ORDER BY o.oid""".stripMargin), 0)
    assert(inner.rows.map(_.toList) == Seq(List(1001, 100.0), List(1002, 200.0)))
    // LEFT: pre-history order kept with NULL rate
    val left = gw.fetchResults(gw.executeStatement(h,
      """SELECT o.oid, r.rate FROM orders_v AS o
        |LEFT JOIN rates_v FOR SYSTEM_TIME AS OF o.ots AS r
        |ON o.id = r.id ORDER BY o.oid""".stripMargin), 0)
    assert(left.rows.map(_.toList) ==
      Seq(List(1000, null), List(1001, 100.0), List(1002, 200.0)))
    // unresolvable version time (no timestamp column) → snapshot fallback
    Seq((1, "a"), (2, "b")).toDF("id", "name").createOrReplaceTempView("dim_nots")
    val snap = gw.fetchResults(gw.executeStatement(h,
      """SELECT o.oid, d.name FROM orders_v AS o
        |JOIN dim_nots FOR SYSTEM_TIME AS OF o.ots AS d
        |ON o.id = d.id ORDER BY o.oid""".stripMargin), 0)
    assert(snap.rows.size == 3 && snap.rows.forall(_(1) == "a"))
  }

  test("gateway: STATEMENT SET groups inserts; filesystem sink written") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    gw.executeStatement(h,
      "CREATE TABLE src (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='100')")
    gw.executeStatement(h,
      s"CREATE TABLE snk (id BIGINT) WITH ('connector'='filesystem','path'='$out','format'='parquet')")
    val op = gw.executeStatement(h,
      """BEGIN STATEMENT SET;
        |INSERT INTO snk SELECT id FROM src WHERE id % 2 = 0;
        |INSERT INTO snk SELECT id FROM src WHERE id % 2 = 1;
        |END""".stripMargin)
    assert(gw.fetchResults(op, 0).rows.head.head.toString.contains("2 inserts"))
    assert(spark.read.parquet(out).count() == 100)
  }

  test("gateway: SHOW JOBS + STOP JOB against a streaming datagen insert") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE ratesrc (id BIGINT) WITH ('connector'='datagen','rows-per-second'='10')")
    gw.executeStatement(h, "CREATE TABLE hole (id BIGINT) WITH ('connector'='blackhole')")
    val b = TableEnv.lookup("hole").get
    val stream = TableEnv.streamDF(spark, TableEnv.lookup("ratesrc").get).selectExpr("id")
    val job = TableEnv.startStreamingInsert(spark, b, stream)
    try {
      val jobs = gw.fetchResults(gw.executeStatement(h, "SHOW JOBS"), 0)
      assert(jobs.columns == Seq("job_id", "job_name", "status", "start_time"))
      assert(jobs.rows.exists(r => r(1) == job && r(2) == "RUNNING"))
      val op = gw.executeStatement(h, s"STOP JOB '$job'")
      assert(gw.fetchResults(op, 0).rows.head.head.toString.contains("stopped"))
      assert(Jobs.list().find(_.name == job).get.status == "CANCELED")
    } finally Jobs.stopAll()
  }

  test("gateway: streaming SELECT feeds the ring buffer, paged by offset token") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE live_src (id BIGINT, amount DOUBLE) WITH ('connector'='datagen','rows-per-second'='200')")
    val op = gw.executeStatement(h, "SELECT id, amount FROM live_src")
    try {
      var page = gw.fetchResults(op, 0)
      var tries = 0
      while (page.rows.isEmpty && tries < 100) { Thread.sleep(200); page = gw.fetchResults(op, 0); tries += 1 }
      assert(page.rows.nonEmpty, "streaming SELECT produced no rows in 20s")
      assert(page.columns == Seq("id", "amount"))
      assert(!page.eos)
      // token-follow: fetching at nextToken returns only newer rows
      val token = page.nextToken.get
      Thread.sleep(500)
      val page2 = gw.fetchResults(op, token)
      assert(page2.nextToken.get >= token)
    } finally { gw.cancelOperation(op); Jobs.stopAll() }
  }

  test("COLLECT(x) rewrites to a multiset (element → count map)") {
    Tables.registerAll(spark, sfDir)
    val df = FlinkDialect.sql(spark,
      "SELECT n_regionkey, COLLECT(n_name) AS names FROM nation GROUP BY n_regionkey")
    val m = df.filter(col("n_regionkey") === 0).head().getMap[String, Int](1)
    assert(m.size == 5 && m.values.forall(_ == 1))
    // duplicate elements count, first-seen order
    spark.sql("SELECT explode(array('b','a','b','c','a','b')) AS x")
      .createOrReplaceTempView("ms_src")
    val ms = FlinkDialect.sql(spark, "SELECT COLLECT(x) AS m FROM ms_src")
      .head().getMap[String, Int](0)
    assert(ms == Map("b" -> 3, "a" -> 2, "c" -> 1))
    // linearity: 100k rows over 10k distinct keys in one group stays fast
    spark.range(100000).selectExpr("cast(id % 10000 as string) AS x")
      .createOrReplaceTempView("ms_big")
    val t0 = System.nanoTime()
    val big = FlinkDialect.sql(spark, "SELECT COLLECT(x) AS m FROM ms_big")
      .head().getMap[String, Int](0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(big.size == 10000 && big.values.sum == 100000)
    assert(secs < 10.0, s"multiset over 10k distinct took ${secs}s") // O(d*n) took minutes
    // r16: COLLECT is a DIRECT aggregate (buffer = count map, O(distinct)
    // memory) — the old collect_list intermediate was O(group size) and
    // OOM'd a 50M-element group at the sf100 sweep. Pin agreement with the
    // kernel-over-collected-array path on strings AND ints (the int case
    // exercises the typed buffer serialization), nulls skipped both ways.
    spark.sql("SELECT explode(array('b', 'a', null, 'b', 'c', null, 'a', 'b')) AS x")
      .createOrReplaceTempView("ms_nulls")
    val direct = spark.sql("SELECT multiset_agg(x) AS m FROM ms_nulls")
      .head().getMap[String, Int](0)
    val viaList = spark.sql(
      "SELECT multiset_from_array(collect_list(x)) AS m FROM ms_nulls")
      .head().getMap[String, Int](0)
    assert(direct == viaList && direct == Map("b" -> 3, "a" -> 2, "c" -> 1))
    spark.range(200000).selectExpr("cast(id % 3 as int) AS k", "id % 7 AS g")
      .createOrReplaceTempView("ms_int")
    val ints = spark.sql(
      "SELECT g, multiset_agg(k) AS m, multiset_from_array(collect_list(k)) AS m2 " +
        "FROM ms_int GROUP BY g")
      .collect()
    ints.foreach { r =>
      assert(r.getMap[Int, Int](1) == r.getMap[Int, Int](2),
        s"direct vs collected multiset diverged for group ${r.get(0)}")
    }
    // group-size independence: 2M rows, 3 distinct values, ONE group — the
    // buffer holds 3 entries whatever the group size
    val t1 = System.nanoTime()
    val mono = FlinkDialect.sql(spark,
      "SELECT COLLECT(x) AS m FROM (SELECT cast(id % 3 AS string) AS x " +
        "FROM range(2000000))").head().getMap[String, Int](0)
    assert(mono == Map("0" -> 666667, "1" -> 666667, "2" -> 666666))
    assert((System.nanoTime() - t1) / 1e9 < 30.0)
    // ARRAY elements count (representation-consistent equality); MAP
    // elements refuse by name (map equality is undefined for counting —
    // collect_set's own restriction)
    val arrMs = spark.sql(
      "SELECT multiset_agg(a) AS m FROM (SELECT array(id % 2, 1L) AS a " +
        "FROM range(6))").head().getMap[Seq[Long], Int](0)
    assert(arrMs == Map(Seq(0L, 1L) -> 3, Seq(1L, 1L) -> 3), s"got $arrMs")
    val mapErr = intercept[Exception] {
      spark.sql("SELECT multiset_agg(map('k', id)) FROM range(3)").collect()
    }
    assert(mapErr.getMessage.contains("multiset_agg") ||
      mapErr.getMessage.toLowerCase.contains("map"), mapErr.getMessage)
  }

  test("multiset element-equality edges: NaN/-0.0 merge, binary merges by bytes, nested floats, count overflow refuses (r17)") {
    // Floating keys canonicalize like Spark's own grouping keys
    // (NormalizeFloatingNumbers): every NaN is ONE element, -0.0 counts
    // with 0.0. Pre-r17 Scala `==` split each NaN occurrence into its own
    // key (duplicate NaN keys in the emitted MapData — r16 ADVICE).
    spark.sql("SELECT explode(array(cast('NaN' as double), cast('NaN' as double), " +
        "cast(-0.0 as double), cast(0.0 as double), cast(1.5 as double))) AS d")
      .createOrReplaceTempView("ms_dbl")
    val dm = spark.sql("SELECT multiset_agg(d) AS m FROM ms_dbl")
      .head().getMap[Double, Int](0)
    assert(dm.size == 3, s"NaN and -0.0 must merge: $dm")
    assert(dm.exists { case (k, c) => k.isNaN && c == 2 }, s"NaN count: $dm")
    assert(dm.exists { case (k, c) => k == 0.0 && c == 2 }, s"-0.0/0.0 count: $dm")
    assert(dm.exists { case (k, c) => k == 1.5 && c == 1 })
    // ...and the kernel-over-collected-array path agrees (it keyed a Java
    // map pre-r17: NaNs merged but -0.0/0.0 split — the paths diverged)
    val dm2 = spark.sql(
      "SELECT multiset_from_array(collect_list(d)) AS m FROM ms_dbl")
      .head().getMap[Double, Int](0)
    assert(dm2.size == 3 && dm2.exists { case (k, c) => k == 0.0 && c == 2 },
      s"multiset_from_array must canonicalize floats too: $dm2")
    // float (4-byte) keys take the same path
    val fm = spark.sql("SELECT multiset_agg(f) AS m FROM (SELECT " +
        "explode(array(cast('NaN' as float), cast('NaN' as float), " +
        "cast(-0.0 as float), cast(0.0 as float))) AS f)")
      .head().getMap[Float, Int](0)
    assert(fm.size == 2 && fm.values.toSeq.sorted == Seq(2, 2), s"got $fm")
    // BINARY elements merge by BYTES: Array[Byte] hashes/compares by
    // identity in both Scala and Java maps, so equal payloads silently
    // split without canonical-byte keying (r17 edge sweep find)
    val bm = spark.sql("SELECT multiset_agg(cast(s as binary)) AS m FROM " +
        "(SELECT explode(array('ab', 'ab', 'cd')) AS s)")
      .head().getMap[Array[Byte], Int](0)
      .map { case (k, c) => new String(k, "UTF-8") -> c }
    assert(bm == Map("ab" -> 2, "cd" -> 1), s"equal binaries must merge: $bm")
    // nested: arrays-of-structs carrying doubles, NaN inside — one element
    // class across representations and serde boundaries (forced through
    // partial aggregation by the multi-partition range)
    val nm = spark.sql("SELECT multiset_agg(a) AS m FROM (SELECT " +
        "array(named_struct('d', cast('NaN' as double), 'tag', id % 2)) AS a " +
        "FROM range(6))")
      .head().getMap[Seq[org.apache.spark.sql.Row], Int](0)
    assert(nm.size == 2 && nm.values.toSeq.sorted == Seq(3, 3),
      s"nested struct counts must merge across partitions: $nm")
    // count overflow refuses by name: the buffer counts in Long but
    // MULTISET emits 32-bit counts (Flink parity) — past 2^31 occurrences
    // of one element the pre-r17 toInt WRAPPED silently (r16 verdict). Unit
    // level: merging pre-built buffers constructs the wrap cheaply.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    val agg = graft.functions.MultisetAgg(BoundReference(0, StringType, true))
    val k = org.apache.spark.unsafe.types.UTF8String.fromString("x")
    val atMax = agg.createAggregationBuffer()
    atMax.update(k, Int.MaxValue.toLong)
    assert(agg.eval(atMax).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      .valueArray.getInt(0) == Int.MaxValue) // exactly 2^31-1 still emits
    val one = agg.createAggregationBuffer()
    one.update(k, 1L)
    val err = intercept[UnsupportedOperationException] {
      agg.eval(agg.merge(atMax, one))
    }
    assert(err.getMessage.contains("count overflow"), err.getMessage)
  }

  test("subscripts: computed index, chained, call base, map key, constructors") {
    val r1 = FlinkDialect.rewrite("SELECT a[i + 1] AS x FROM t")
    assert(r1.contains("try_element_at(a, i + 1)"))
    val r2 = FlinkDialect.rewrite("SELECT a[1][2] AS x FROM t")
    assert(r2.contains("try_element_at(try_element_at(a, 1), 2)"))
    val r3 = FlinkDialect.rewrite("SELECT split(s, ',')[2] AS x FROM t")
    assert(r3.contains("try_element_at(split(s, ','), 2)"))
    val r4 = FlinkDialect.rewrite("SELECT m['key'] AS x FROM t")
    assert(r4.contains("try_element_at(m, 'key')"))
    val r5 = FlinkDialect.rewrite("SELECT ARRAY[1, 2, 3][2] AS x, MAP['a', 1]['a'] AS y FROM t")
    assert(r5.contains("try_element_at(array(1, 2, 3), 2)"))
    assert(r5.contains("try_element_at(map('a', 1), 'a')"))
    // end-to-end 1-based semantics
    val v = spark.sql(FlinkDialect.rewrite("SELECT ARRAY[10, 20, 30][2] AS x")).head().getInt(0)
    assert(v == 20)
  }

  test("lookup join: rate stream against a static dimension (stream-static)") {
    TableEnv.clear()
    val dim = Tables.load(spark, sfDir, "nation")
    val b = TableEnv.parseCreateTable(
      "CREATE TABLE lk (id BIGINT) WITH ('connector'='datagen','rows-per-second'='500')")
    val stream = TableEnv.streamDF(spark, b)
      .withColumn("nk", pmod(col("id"), lit(25)).cast("int"))
      .join(broadcast(dim), col("nk") === col("n_nationkey")) // per-batch dim snapshot
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("lookup_out").start()
    try {
      var tries = 0
      while (spark.table("lookup_out").isEmpty && tries < 50) { Thread.sleep(200); tries += 1 }
      val rows = spark.table("lookup_out")
      assert(!rows.isEmpty)
      assert(rows.schema.fieldNames.contains("n_name")) // dim columns attached
    } finally q.stop()
  }

  test("bucketed tables join without a shuffle on the join key") {
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"spark-warehouse/$t"))
    }
    Tables.load(spark, sfDir, "orders")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.load(spark, sfDir, "lineitem")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      assert(joined.count() == Tables.load(spark, sfDir, "lineitem").count())
      val plan = joined.queryExecution.executedPlan.toString // final (post-AQE)
      // co-located bucketed join: no Exchange feeding the SortMergeJoin
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("gateway: streaming aggregation SELECT falls back to update mode") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE agg_src (id BIGINT) WITH ('connector'='datagen','rows-per-second'='300')")
    val op = gw.executeStatement(h,
      "SELECT id % 3 AS bucket, COUNT(*) AS cnt FROM agg_src GROUP BY id % 3")
    try {
      var page = gw.fetchResults(op, 0)
      assert(page.columns != Seq("error"), page.rows)
      var tries = 0
      while (page.rows.isEmpty && tries < 100) { Thread.sleep(200); page = gw.fetchResults(op, 0); tries += 1 }
      assert(page.rows.nonEmpty, "streaming aggregation produced no rows in 20s")
      assert(page.columns == Seq("bucket", "cnt"))
    } finally { gw.cancelOperation(op); Jobs.stopAll() }
  }

  test("gateway: MATCH_RECOGNIZE routes to the CEP operator") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    Tables.registerAll(gw.session(h).spark, sfDir) // temp views are per-session
    val op = gw.executeStatement(h,
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES FIRST(A.value) AS first_low, LAST(B.value) AS high_val, COUNT(A.*) AS n_low
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A+ B)
        |  DEFINE A AS A.value < 100, B AS B.value >= 100
        |)""".stripMargin)
    val page = gw.fetchResults(op, 0)
    assert(page.columns == Seq("user_id", "first_low", "high_val", "n_low"))
    assert(page.rows.nonEmpty)
  }

  test("ALTER TABLE ADD COLUMN on a catalog table (native passthrough)") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val tbl = s"alter_t_${System.nanoTime()}"
    gw.executeStatement(h, s"CREATE TABLE $tbl (id BIGINT) USING parquet")
    try {
      gw.fetchResults(gw.executeStatement(h, s"INSERT INTO $tbl VALUES (1)"), 0)
      val alter = gw.fetchResults(gw.executeStatement(h,
        s"ALTER TABLE $tbl ADD COLUMNS (tag STRING)"), 0)
      assert(!alter.columns.contains("error"), s"ALTER failed: ${alter.rows}")
      val desc = gw.fetchResults(gw.executeStatement(h, s"DESCRIBE $tbl"), 0)
      assert(desc.rows.exists(_.head.toString == "tag"))
      // existing rows read back with the new column as null
      val r = gw.fetchResults(gw.executeStatement(h,
        s"SELECT id, tag FROM $tbl"), 0)
      assert(r.rows.head(1) == null || r.rows.head(1).toString.isEmpty)
    } finally gw.executeStatement(h, s"DROP TABLE IF EXISTS $tbl")
  }

  test("admin passthroughs: ANALYZE TABLE, TRUNCATE, ADD JAR, REMOVE JAR") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val tbl = s"admin_t_${System.nanoTime()}"
    gw.executeStatement(h, s"CREATE TABLE $tbl (id BIGINT, v STRING) USING parquet")
    try {
      gw.fetchResults(gw.executeStatement(h,
        s"INSERT INTO $tbl VALUES (1, 'a'), (2, 'b')"), 0)
      // ANALYZE computes stats without error and SHOW TBLPROPERTIES sees them
      val an = gw.executeStatement(h, s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
      assert(!gw.fetchResults(an, 0).columns.contains("error"),
        s"ANALYZE failed: ${gw.fetchResults(an, 0).rows}")
      // TRUNCATE empties the table
      gw.fetchResults(gw.executeStatement(h, s"TRUNCATE TABLE $tbl"), 0)
      val n = gw.fetchResults(gw.executeStatement(h, s"SELECT COUNT(*) AS n FROM $tbl"), 0)
      assert(n.rows.head.head.toString == "0")
      // ADD JAR registers the path; REMOVE JAR reports unsupported (pinned)
      val jarPath = java.nio.file.Files.createTempFile("graft-add", ".jar")
      val zos = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(jarPath))
      zos.putNextEntry(new java.util.zip.ZipEntry("dummy.txt")); zos.write(1); zos.close()
      val aj = gw.fetchResults(gw.executeStatement(h, s"ADD JAR '$jarPath'"), 0)
      assert(!aj.columns.contains("error"), s"ADD JAR failed: ${aj.rows}")
      val jars = gw.fetchResults(gw.executeStatement(h, "SHOW JARS"), 0)
      assert(jars.rows.exists(_.head.toString.contains(jarPath.getFileName.toString)))
    } finally gw.executeStatement(h, s"DROP TABLE IF EXISTS $tbl")
  }

  test("filesystem formats csv/json/orc round-trip through bindings") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE fmt_src (id BIGINT, name STRING, score DOUBLE) WITH ('connector'='datagen','number-of-rows'='40')")
    for (fmt <- Seq("csv", "json", "orc")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-fmt-$fmt").toString
      gw.executeStatement(h,
        s"CREATE TABLE fmt_$fmt (id BIGINT, name STRING, score DOUBLE) WITH ('connector'='filesystem','path'='$dir','format'='$fmt')")
      gw.fetchResults(gw.executeStatement(h,
        s"INSERT INTO fmt_$fmt SELECT id, name, score FROM fmt_src"), 0)
      val back = gw.fetchResults(gw.executeStatement(h,
        s"SELECT COUNT(*) AS n, COUNT(DISTINCT id) AS d FROM fmt_$fmt"), 0)
      assert(back.rows.head.map(_.toString) == Seq("40", "40"), s"$fmt round-trip: ${back.rows}")
    }
  }

  test("csv/json format options translate: delimiter, null literal, parse-error tolerance") {
    import graft.engine.TableEnv
    TableEnv.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-opts")
    java.nio.file.Files.write(dir.resolve("rows.csv"),
      "1|ada|N/A\n# a comment line\n2|bo,b|3.5\ngarbage-without-delims\n"
        .getBytes("UTF-8"))
    TableEnv.createTable(spark,
      s"""CREATE TABLE csv_opt (id BIGINT, name STRING, score DOUBLE) WITH (
         |  'connector'='filesystem','path'='$dir','format'='csv',
         |  'csv.field-delimiter'='|','csv.allow-comments'='true',
         |  'csv.null-literal'='N/A','csv.ignore-parse-errors'='true')""".stripMargin)
    val b = TableEnv.lookup("csv_opt").get
    val opts = TableEnv.formatOptions(b)
    assert(opts("sep") == "|" && opts("comment") == "#" &&
      opts("nullValue") == "N/A" && opts("mode") == "DROPMALFORMED")
    val rows = TableEnv.batchDF(spark, b).orderBy("id").collect()
    // comment + malformed lines dropped, N/A → null, '|' splits
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "ada"), (2L, "bo,b")), rows.mkString(","))
    assert(rows.head.isNullAt(2) && rows.last.getDouble(2) == 3.5)
    // default is strict: the same file without tolerance fails the read
    TableEnv.createTable(spark,
      s"""CREATE TABLE csv_strict (id BIGINT, name STRING, score DOUBLE) WITH (
         |  'connector'='filesystem','path'='$dir','format'='csv',
         |  'csv.field-delimiter'='|')""".stripMargin)
    assertThrows[Exception] {
      TableEnv.batchDF(spark, TableEnv.lookup("csv_strict").get).collect()
    }
    // write side carries the delimiter/null literal back out
    val wopts = TableEnv.formatOptions(b, forWrite = true)
    assert(wopts("sep") == "|" && !wopts.contains("mode"))
  }

  test("streaming deduplication: ROW_NUMBER rn=1 pattern maps to dropDuplicates") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      """CREATE TABLE dd_src (id BIGINT, k AS MOD(id, 3), pt AS PROCTIME())
        |WITH ('connector'='datagen','rows-per-second'='500')""".stripMargin)
    // Flink's Deduplication special query requires ORDER BY a time
    // attribute; a value column is a per-key Top-1 (unsupported on streams,
    // and dropDuplicates would silently keep the wrong row) → fail fast
    val bad = gw.fetchResults(gw.executeStatement(h,
      """SELECT k, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id ASC) AS rn
        |  FROM dd_src) WHERE rn = 1""".stripMargin), 0)
    assert(bad.columns == Seq("error") &&
      bad.rows.head.head.toString.contains("time attribute"),
      s"non-time ORDER BY must be rejected: $bad")
    val op = gw.executeStatement(h,
      """SELECT k, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY pt ASC) AS rn
        |  FROM dd_src) WHERE rn = 1""".stripMargin)
    try {
      var page = gw.fetchResults(op, 0)
      var tries = 0
      while (page.rows.size < 3 && tries < 100) {
        Thread.sleep(200); page = gw.fetchResults(op, 0); tries += 1
      }
      // keep-first: exactly one row per key, ever
      val keys = page.rows.map(_.head.toString)
      assert(keys.distinct.size == keys.size, s"duplicate keys in dedup output: $keys")
      assert(keys.size == 3)
      assert(page.columns == Seq("k", "rn"))
      assert(page.rows.forall(_(1).toString == "1"))
    } finally gw.closeOperation(op)
    // batch tables fall through to the native window plan
    gw.executeStatement(h,
      """CREATE TABLE dd_batch (id BIGINT, k AS MOD(id, 3))
        |WITH ('connector'='datagen','number-of-rows'='50')""".stripMargin)
    val b = gw.fetchResults(gw.executeStatement(h,
      """SELECT k, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id ASC) AS rn
        |  FROM dd_batch) WHERE rn = 1""".stripMargin), 0)
    assert(b.rows.size == 3)
  }

  test("DISTRIBUTED BY: bucketed tables join without a shuffle") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val d1 = java.nio.file.Files.createTempDirectory("graft-bkt1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-bkt2").toString
    gw.executeStatement(h,
      "CREATE TABLE bsrc (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='1000')")
    gw.executeStatement(h,
      s"""CREATE TABLE bt1 (id BIGINT, v DOUBLE)
         |DISTRIBUTED BY (id) INTO 8 BUCKETS
         |WITH ('connector'='filesystem','path'='$d1','format'='parquet')""".stripMargin)
    gw.executeStatement(h,
      s"""CREATE TABLE bt2 (id BIGINT, v DOUBLE)
         |DISTRIBUTED BY (id) INTO 8 BUCKETS
         |WITH ('connector'='filesystem','path'='$d2','format'='parquet')""".stripMargin)
    gw.fetchResults(gw.executeStatement(h, "INSERT INTO bt1 SELECT id, v FROM bsrc"), 0)
    gw.fetchResults(gw.executeStatement(h, "INSERT INTO bt2 SELECT id, v FROM bsrc"), 0)
    // SQL SELECT through the session view must see the inserted rows: the
    // view was materialized at CREATE time (empty dir, no catalog table yet),
    // so INSERT must rebind it to the bucketed table
    val viaSql = gw.fetchResults(gw.executeStatement(h,
      "SELECT COUNT(*) AS c FROM bt1"), 0)
    assert(viaSql.rows.head.head.toString == "1000",
      s"gateway SELECT after bucketed INSERT: ${viaSql.rows}")
    // SHOW CREATE TABLE reconstructs the clause
    val sct = gw.fetchResults(gw.executeStatement(h, "SHOW CREATE TABLE bt1"), 0)
    assert(sct.rows.head.head.toString.contains("DISTRIBUTED BY (id) INTO 8 BUCKETS"))
    val b1 = TableEnv.lookup("bt1").get
    val b2 = TableEnv.lookup("bt2").get
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = TableEnv.batchDF(spark, b1).as("a")
        .join(TableEnv.batchDF(spark, b2).as("b"), "id")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      // the SQL surface (the rebound session views) carries the contract too
      val sessSpark = gw.session(h).spark
      sessSpark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sqlJoin = sessSpark.sql(
        "SELECT a.id, a.v, b.v AS v2 FROM bt1 a JOIN bt2 b ON a.id = b.id")
      assert(sqlJoin.count() == 1000)
      val sqlPlan = sqlJoin.queryExecution.executedPlan.toString
      assert(!sqlPlan.contains("Exchange"),
        s"bucketed join via SQL views should not shuffle:\n$sqlPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // DML on a bucketed binding must preserve the bucketed-table contract
    val gw2 = gw
    val delPage = gw2.fetchResults(gw2.executeStatement(h, "DELETE FROM bt1 WHERE id < 0"), 0)
    assert(delPage.rows.head.head.toString.contains("deleted"), s"DELETE failed: ${delPage.rows}")
    assert(spark.catalog.tableExists(TableEnv.bucketTableName(TableEnv.lookup("bt1").get)))
    assert(TableEnv.batchDF(spark, TableEnv.lookup("bt1").get).count() == 1000)
    // a STREAMING INSERT into a bucketed binding refuses by name (r16):
    // the streaming file sink cannot produce bucketed files, and plain
    // parts inside the table's directory would silently corrupt the
    // zero-shuffle join contract asserted above
    gw2.executeStatement(h, "CREATE TABLE bstream (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','rows-per-second'='10')")
    val refuse = gw2.fetchResults(gw2.executeStatement(h,
      "INSERT INTO bt1 SELECT id, v FROM bstream"), 0)
    assert(refuse.columns == Seq("error") &&
      refuse.rows.head.head.toString.contains("DISTRIBUTED BY"),
      s"streaming INSERT into a bucketed sink must refuse: ${refuse.rows}")
    assert(TableEnv.batchDF(spark, TableEnv.lookup("bt1").get).count() == 1000,
      "the refused INSERT must not have written anything")
    // an identifier containing 'distributed' must NOT trip the clause
    gw2.executeStatement(h,
      """CREATE TABLE nodist (id BIGINT, distributed_day STRING)
        |PARTITIONED BY (distributed_day)
        |WITH ('connector'='datagen','number-of-rows'='5')""".stripMargin)
    assert(TableEnv.lookup("nodist").get.distribution.isEmpty)
    // re-creating a DISTRIBUTED binding at a new path must not read stale data
    val d3 = java.nio.file.Files.createTempDirectory("graft-bkt3").toString
    gw2.executeStatement(h, "DROP TABLE bt1")
    gw2.executeStatement(h,
      s"""CREATE TABLE bt1 (id BIGINT, v DOUBLE)
         |DISTRIBUTED BY (id) INTO 4 BUCKETS
         |WITH ('connector'='filesystem','path'='$d3','format'='parquet')""".stripMargin)
    gw2.fetchResults(gw2.executeStatement(h, "INSERT INTO bt1 SELECT id, v FROM bsrc LIMIT 10"), 0)
    assert(TableEnv.batchDF(spark, TableEnv.lookup("bt1").get).count() == 10)
    // ALTER TABLE RENAME must carry the saved bucket table to the new name,
    // or the renamed binding silently degrades to unbucketed reads
    gw2.executeStatement(h, "ALTER TABLE bt1 RENAME TO bt1r")
    assert(spark.catalog.tableExists("graft_bucket_bt1r"),
      "bucket table did not follow the rename")
    assert(!spark.catalog.tableExists("graft_bucket_bt1"),
      "orphaned bucket table left under the old name")
    assert(TableEnv.batchDF(spark, TableEnv.lookup("bt1r").get).count() == 10)
    // DROP TABLE on the bucketed binding reaps the saved bucket table too
    gw2.executeStatement(h, "DROP TABLE bt1r")
    assert(!spark.catalog.tableExists("graft_bucket_bt1r"),
      "DROP TABLE left the saved bucket table behind")
  }

  test("completion resolution endpoint: dot-chain levels resolve through the meta cache") {
    // the reference resolves completion metadata client-side
    // (completionProvider.ts:107-170); this is the same resolution as one
    // gateway endpoint — every level, plus the cache-coalescing behavior
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE ct_res (id BIGINT, name STRING) WITH ('connector'='datagen','number-of-rows'='5')")
    // bare prefix → catalogs + visible tables
    val bare = gw.resolve(h, "SELECT * FROM ")
    assert(bare.exists(_._2 == "catalog"), bare.toString)
    assert(bare.contains("ct_res" -> "table"), bare.toString)
    // alias. → the aliased table's columns from statement context
    val byAlias = gw.resolve(h, "SELECT a.", "SELECT a. FROM ct_res a")
    assert(byAlias.filter(_._2 == "column").map(_._1).toSet == Set("id", "name"), byAlias.toString)
    // the table name itself is its implicit alias
    val byName = gw.resolve(h, "SELECT ct_res.", "SELECT ct_res. FROM ct_res")
    assert(byName.filter(_._2 == "column").map(_._1).toSet == Set("id", "name"), byName.toString)
    // catalog. → its databases; cat.db. → tables
    val dbs = gw.resolve(h, "spark_catalog.")
    assert(dbs.nonEmpty && dbs.forall(_._2 == "database"), dbs.toString)
    val tbls = gw.resolve(h, "spark_catalog.default.")
    assert(tbls.contains("ct_res" -> "table"), tbls.toString)
    // the qualified prefix must be RESOLVED, not swallowed into the current
    // context: a non-current database's tables come back for cat.db.
    spark.sql("CREATE DATABASE IF NOT EXISTS ct_res_db2")
    try {
      spark.sql("CREATE TABLE IF NOT EXISTS spark_catalog.ct_res_db2.ct_elsewhere (x INT) USING parquet")
      gw.metaCache.invalidateAll() // DDL went around the gateway above
      val other = gw.resolve(h, "spark_catalog.ct_res_db2.")
      assert(other.contains("ct_elsewhere" -> "table"), other.toString)
      val dbs2 = gw.resolve(h, "spark_catalog.")
      assert(dbs2.map(_._1).contains("ct_res_db2"), dbs2.toString)
    } finally spark.sql("DROP DATABASE IF EXISTS ct_res_db2 CASCADE")
    gw.resolve(h, "SELECT * FROM ") // re-prime after the invalidateAll above
    // cache reuse: repeating a prefix must hit the TTL cache, not re-route
    val misses0 = gw.metaCache.misses.get()
    val hits0 = gw.metaCache.hits.get()
    gw.resolve(h, "SELECT * FROM ")
    assert(gw.metaCache.misses.get() == misses0, "repeat resolve re-computed metadata")
    assert(gw.metaCache.hits.get() >= hits0 + 2, "repeat resolve bypassed the cache")
  }

  test("3rd-party connectors fail fast with their specific missing-runtime reason") {
    // the reference grammar's connector list (G:513) names services this
    // environment can't back — each must fail AT DDL TIME naming what's
    // missing, not parse-error or table-not-found at first SELECT
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val cases = Map(
      "hive" -> "Hive metastore",
      "hbase-1.4" -> "HBase 1.4 client",
      "hbase-2.2" -> "HBase 2.2 client",
      "kinesis" -> "Kinesis client",
      "firehose" -> "Firehose client",
      "dynamodb" -> "DynamoDB client",
      "pulsar" -> "Pulsar client",
      "rabbitmq" -> "RabbitMQ client",
      "mongodb" -> "MongoDB driver")
    cases.foreach { case (conn, hint) =>
      val page = gw.fetchResults(gw.executeStatement(h,
        s"CREATE TABLE t_conn (id BIGINT) WITH ('connector'='$conn')"), 0)
      assert(page.columns == Seq("error"), s"'$conn' was accepted: $page")
      val msg = page.rows.flatten.mkString(" ")
      assert(msg.contains(hint) && msg.contains(s"'$conn'"),
        s"'$conn' error lacks its specific reason: $msg")
      assert(TableEnv.lookup("t_conn").isEmpty, s"'$conn' binding registered despite failure")
    }
  }

  test("testdata drift guard: a drifted fixture parquet fails at load naming the column") {
    // the round-8 lesson, generalized: generator schema drift must cost one
    // readable load-time error, not 48 silently-zeroed gates
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    try {
      // type drift: lang string → int
      Tables.load(spark, sfDir, "documents").withColumn("lang", lit(7))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val e1 = intercept[IllegalStateException](Tables.load(spark, dir, "documents"))
      assert(e1.getMessage.contains("'documents'") && e1.getMessage.contains("'lang'")
        && e1.getMessage.contains("expected string"), e1.getMessage)
      // missing column drift
      Tables.load(spark, sfDir, "documents").drop("n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val e2 = intercept[IllegalStateException](Tables.load(spark, dir, "documents"))
      assert(e2.getMessage.contains("missing column 'n_chars'"), e2.getMessage)
      // the watched column itself: a ts encoding outside the accepted set
      // (timestamp/timestamp_ntz/nanos-as-long bigint) must name 'ts'
      Tables.load(spark, sfDir, "events").withColumn("ts", col("ts").cast("string"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val e3 = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
      assert(e3.getMessage.contains("'ts'") && e3.getMessage.contains("string"), e3.getMessage)
      // additive drift is benign: an extra column loads fine
      Tables.load(spark, sfDir, "documents").withColumn("extra", lit(1))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(Tables.load(spark, dir, "documents").count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("admin-verb sweep: every grammar statement answers, none leaks a raw parse error") {
    // the reference grammar's full admin surface (flink.tmLanguage.json:
    // 300-400): each verb must return either a result or a NAMED message —
    // a raw Spark ParseException surfacing through the gateway means the
    // dialect/router missed the statement family entirely
    val gw = new engine.Gateway(spark)
    val h = gw.openSession("admin_sweep")
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    run("CREATE TABLE adm_t (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','number-of-rows'='3')")
    run("CREATE VIEW adm_v AS SELECT id FROM adm_t")
    val stmts = Seq(
      "SHOW CATALOGS", "SHOW CURRENT CATALOG", "SHOW DATABASES",
      "SHOW CURRENT DATABASE", "SHOW TABLES", "SHOW VIEWS", "SHOW FUNCTIONS",
      "SHOW MODULES", "SHOW FULL MODULES", "SHOW JARS", "SHOW JOBS",
      "SHOW COLUMNS FROM adm_t", "SHOW PARTITIONS adm_t",
      "SHOW CREATE TABLE adm_t", "SHOW CREATE VIEW adm_v",
      "DESCRIBE adm_t", "DESC adm_t",
      "EXPLAIN SELECT id FROM adm_t",
      "EXPLAIN PLAN FOR SELECT id FROM adm_t",
      "EXPLAIN ESTIMATED_COST SELECT id FROM adm_t",
      "EXPLAIN CHANGELOG_MODE SELECT id FROM adm_t",
      "EXPLAIN JSON_EXECUTION_PLAN SELECT id FROM adm_t",
      "USE CATALOG default_catalog", "USE MODULES core", "USE default",
      "SET 'adm.k' = 'v'", "SET", "RESET 'adm.k'", "RESET",
      "ADD JAR '/tmp/adm_missing.jar'", "REMOVE JAR '/tmp/adm_missing.jar'",
      "ANALYZE TABLE adm_t COMPUTE STATISTICS",
      "LOAD MODULE core", "UNLOAD MODULE core", "LOAD MODULE hive",
      "CREATE MODULE adm_m", "DROP MODULE adm_m",
      "STOP JOB 'adm_no_such_job'",
      "CREATE CATALOG adm_cat WITH ('type'='generic_in_memory')",
      "ALTER CATALOG adm_cat SET ('k'='v')", "DROP CATALOG adm_cat",
      "TRUNCATE TABLE adm_t",
      "COMPILE PLAN '/tmp/adm_plan.json' FOR SELECT id FROM adm_t",
      "EXECUTE PLAN '/tmp/adm_plan.json'",
      "BEGIN STATEMENT SET", "END",
      "STOP JOB 'adm_no_such_job' WITH SAVEPOINT")
    val leaks = stmts.flatMap { s =>
      val text = (try run(s).rows.map(_.mkString(" ")) catch {
        case e: Exception => Seq(e.toString)
      }).mkString(" ")
      val raw = text.contains("PARSE_SYNTAX_ERROR") ||
        text.contains("ParseException") || text.contains("SqlBaseParser") ||
        text.contains("NullPointerException") ||
        text.contains("MatchError")
      if (raw) Some(s -> text.take(160)) else None
    }
    leaks.foreach { case (s, t) => info(s"LEAK: $s -> $t") }
    assert(leaks.isEmpty, s"${leaks.size} admin statements leaked raw errors")
    run("DROP VIEW adm_v")
    run("DROP TABLE adm_t")
    gw.closeSession(h)
  }
}
