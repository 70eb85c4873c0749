package graft

import graft.engine.{FlinkDialect, Gateway, Results}

class ResultsSpec extends SparkTestBase {

  test("CSV export quotes commas, quotes, and newlines (RFC-ish)") {
    val csv = Results.toCsv(
      Seq("a", "b"),
      Seq(Seq("plain", "with,comma"), Seq("say \"hi\"", "line\nbreak"), Seq(null, 1)))
    val lines = csv.split("\n", -1)
    assert(lines(0) == "a,b")
    assert(lines(1) == "plain,\"with,comma\"")
    assert(lines(2) == "\"say \"\"hi\"\"\",\"line")
    assert(csv.contains("\"say \"\"hi\"\"\""))
    assert(csv.endsWith(",1"))
  }

  test("metadata dedup keeps first occurrence in order") {
    val rows = Seq(Seq("a", 1), Seq("b", 2), Seq("a", 1), Seq("c", 3))
    assert(Results.dedupRows(rows) == Seq(Seq("a", 1), Seq("b", 2), Seq("c", 3)))
  }

  test("client filter/sort/page behave like the renderer") {
    val rows = Seq(Seq("apple", 3), Seq("Banana", 1), Seq("cherry", 2))
    assert(Results.filterRows(rows, "AN") == Seq(Seq("Banana", 1)))
    assert(Results.sortRows(rows, 1, asc = true).map(_(1)) == Seq(1, 2, 3))
    assert(Results.sortRows(rows, 0, asc = false).head.head == "cherry")
    assert(Results.page(rows, 1, 2) == Seq(Seq("cherry", 2)))
  }

  test("sort keeps nulls last in both directions") {
    val rows = Seq(Seq[Any](3), Seq[Any](null), Seq[Any](1))
    assert(Results.sortRows(rows, 0, asc = true).map(_.head) == Seq(1, 3, null))
    assert(Results.sortRows(rows, 0, asc = false).map(_.head) == Seq(3, 1, null))
  }

  test("gateway surfaces root cause for failing SQL instead of throwing") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val op = gw.executeStatement(h, "SELECT * FROM table_that_does_not_exist_xyz")
    val page = gw.fetchResults(op, 0)
    assert(page.columns == Seq("error"))
    assert(page.rows.head.head.toString.toUpperCase.contains("TABLE_THAT_DOES_NOT_EXIST_XYZ"))
  }

  test("gateway passes through catalog metadata statements natively") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val s = gw.session(h).spark
    Tables.registerAll(s, sfDir)
    val tabs = gw.fetchResults(gw.executeStatement(h, "SHOW TABLES"), 0)
    assert(tabs.rows.exists(_.exists(v => v != null && v.toString == "nation")))
    val desc = gw.fetchResults(gw.executeStatement(h, "DESCRIBE nation"), 0)
    assert(desc.rows.map(_.head.toString).toSet == Set("n_nationkey", "n_name", "n_regionkey"))
    val expl = gw.fetchResults(gw.executeStatement(h,
      "EXPLAIN PLAN FOR SELECT * FROM nation WHERE n_nationkey = 1"), 0)
    assert(expl.rows.head.head.toString.contains("Physical Plan"))
    val view = gw.executeStatement(h,
      "CREATE OR REPLACE TEMPORARY VIEW big_nations AS SELECT * FROM nation WHERE n_nationkey > 10")
    gw.fetchResults(view, 0)
    val cnt = gw.fetchResults(gw.executeStatement(h, "SELECT COUNT(*) AS n FROM big_nations"), 0)
    assert(cnt.rows.head.head.toString.toLong == 14)
  }

  test("INSERT OVERWRITE replaces filesystem sink contents; SHOW CREATE TABLE reconstructs DDL") {
    import graft.engine.TableEnv
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val out = java.nio.file.Files.createTempDirectory("graft-ow").toString
    gw.executeStatement(h,
      "CREATE TABLE ow_src (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='50')")
    gw.executeStatement(h,
      s"CREATE TABLE ow_snk (id BIGINT) WITH ('connector'='filesystem','path'='$out','format'='parquet')")
    gw.fetchResults(gw.executeStatement(h, "INSERT INTO ow_snk SELECT id FROM ow_src"), 0)
    assert(spark.read.parquet(out).count() == 50)
    gw.fetchResults(gw.executeStatement(h, "INSERT OVERWRITE ow_snk SELECT id FROM ow_src LIMIT 10"), 0)
    assert(spark.read.parquet(out).count() == 10)
    val ddl = gw.fetchResults(gw.executeStatement(h, "SHOW CREATE TABLE ow_snk"), 0)
      .rows.head.head.toString
    assert(ddl.contains("CREATE TABLE `ow_snk`"))
    assert(ddl.contains("'connector' = 'filesystem'"))
    // round-trip: the generated DDL re-parses to the same binding shape
    val b2 = TableEnv.parseCreateTable(ddl)
    assert(b2.name == "ow_snk" && b2.connector == "filesystem")
  }

  test("DESCRIBE on a connector binding returns the Flink-shaped schema") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      """CREATE TABLE desc_t (
        |  id BIGINT,
        |  t TIMESTAMP(3),
        |  p AS PROCTIME(),
        |  WATERMARK FOR t AS t - INTERVAL '5' SECOND,
        |  PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'kafka', 'topic' = 'x', 'format' = 'json')""".stripMargin)
    val d = gw.fetchResults(gw.executeStatement(h, "DESCRIBE desc_t"), 0)
    assert(d.columns == Seq("name", "type", "null", "key", "extras", "watermark"))
    val byName = d.rows.map(r => r.head.toString -> r).toMap
    assert(byName("id")(3) == "PRI")
    assert(byName("t")(5).toString.contains("INTERVAL"))
    assert(byName("p")(4).toString.startsWith("AS "))
  }

  test("EXPLAIN CHANGELOG_MODE reports bounded / append / update") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    Tables.registerAll(gw.session(h).spark, sfDir)
    val bounded = gw.fetchResults(gw.executeStatement(h,
      "EXPLAIN CHANGELOG_MODE SELECT COUNT(*) FROM nation"), 0)
    assert(bounded.rows.head.head.toString.contains("BOUNDED"))
    gw.executeStatement(h,
      "CREATE TABLE clm_src (id BIGINT) WITH ('connector'='datagen','rows-per-second'='10')")
    val append = gw.fetchResults(gw.executeStatement(h,
      "EXPLAIN CHANGELOG_MODE SELECT id FROM clm_src"), 0)
    assert(append.rows.head.head.toString.contains("APPEND"))
    val update = gw.fetchResults(gw.executeStatement(h,
      "EXPLAIN CHANGELOG_MODE SELECT id % 2, COUNT(*) FROM clm_src GROUP BY id % 2"), 0)
    assert(update.rows.head.head.toString.contains("UPDATE"))
  }

  test("admin statements: SHOW JARS / SHOW MODULES / ANALYZE / TRUNCATE-ish routes") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val jars = gw.fetchResults(gw.executeStatement(h, "SHOW JARS"), 0)
    assert(jars.columns == Seq("jar")) // empty list is fine in local mode
    val mods = gw.fetchResults(gw.executeStatement(h, "SHOW MODULES"), 0)
    assert(mods.columns == Seq("module name") && mods.rows == Seq(Seq("core")))
    val fns = gw.fetchResults(gw.executeStatement(h, "SHOW FUNCTIONS LIKE 'split*'"), 0)
    assert(fns.rows.exists(_.head.toString.contains("split")))
  }

  test("module registry: core gates Flink function resolution; hive/unknown fail fast") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val sess = gw.session(h).spark
    def run(stmt: String) = gw.fetchResults(gw.executeStatement(h, stmt), 0)
    // core loaded+used by default, and its functions resolve
    assert(sess.sql("SELECT SPLIT_INDEX('a,b,c', ',', 1)").head.getString(0) == "b")
    assert(run("SHOW FULL MODULES").rows == Seq(Seq("core", true)))
    // unload → the Flink-registered function stops resolving IN THIS SESSION
    run("UNLOAD MODULE core")
    assert(run("SHOW MODULES").rows.isEmpty)
    intercept[Exception] { sess.sql("SELECT SPLIT_INDEX('a,b,c', ',', 1)").collect() }
    // other sessions keep their registry (temp functions are session-scoped)
    val h2 = gw.openSession()
    assert(gw.session(h2).spark.sql("SELECT SPLIT_INDEX('a,b', ',', 0)").head.getString(0) == "a")
    // reload → resolves again; double-load is Flink's already-exists error
    run("LOAD MODULE core")
    assert(sess.sql("SELECT SPLIT_INDEX('a,b,c', ',', 2)").head.getString(0) == "c")
    val dup = run("LOAD MODULE core")
    assert(dup.rows.head.head.toString.contains("already exists"), dup.rows.toString)
    // USE MODULES with an empty effective set disables without unloading
    // ... USE MODULES requires ≥1 name, so disable via unload/reload instead;
    // USE MODULES core is a no-op reorder of the singleton
    run("USE MODULES core")
    assert(run("SHOW FULL MODULES").rows == Seq(Seq("core", true)))
    // hive and unknown modules carry their specific reasons
    assert(run("LOAD MODULE hive").rows.head.head.toString.contains("Hive runtime"))
    assert(run("LOAD MODULE fancy").rows.head.head.toString.contains("module factory"))
    assert(run("UNLOAD MODULE nope").rows.head.head.toString.contains("No module"))
    assert(run("USE MODULES core, nope").rows.head.head.toString.contains("No module"))
    // the module list is per session: UNLOAD in this session leaves the
    // other session's list and its core functions alone
    def runIn(s: String, stmt: String) = gw.fetchResults(gw.executeStatement(s, stmt), 0)
    run("UNLOAD MODULE core")
    assert(runIn(h2, "SHOW MODULES").rows == Seq(Seq("core")))
    assert(runIn(h2, "SELECT SPLIT_INDEX('a,b,c', ',', 1) AS s").rows == Seq(Seq("b")))
    // a session opened after this one closes starts with core loaded
    gw.closeSession(h)
    val h3 = gw.openSession()
    assert(runIn(h3, "SHOW FULL MODULES").rows == Seq(Seq("core", true)))
    assert(runIn(h3, "SELECT SPLIT_INDEX('a,b,c', ',', 2) AS s").rows == Seq(Seq("c")))
    gw.closeSession(h2); gw.closeSession(h3)
  }

  test("metadata TTL cache: dedup, TTL expiry, DDL invalidation") {
    import graft.engine.MetaCache
    // TTL with injected clock
    var now = 0L
    val c = new MetaCache[Int](ttlMillis = 100, clock = () => now)
    var computes = 0
    def get() = c.getOrCompute("k") { computes += 1; computes }
    assert(get() == 1 && get() == 1 && computes == 1) // cached
    now = 150
    assert(get() == 2 && computes == 2) // expired → recomputed
    assert(c.hits.get() == 1 && c.misses.get() == 2)
    // in-flight dedup: concurrent callers share one computation
    val slow = new MetaCache[Int](ttlMillis = 10000)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = slow.getOrCompute("s") { Thread.sleep(200); n.incrementAndGet() }
    }))
    assert(futures.map(_.get()).toSet == Set(1) && n.get() == 1)
    pool.shutdown()
    // failures are not cached
    val f = new MetaCache[Int]()
    intercept[RuntimeException](f.getOrCompute("x") { throw new RuntimeException("boom") })
    assert(f.getOrCompute("x") { 7 } == 7)

    // end-to-end: SHOW TABLES caches; CREATE TABLE invalidates
    val gw = new Gateway(spark)
    val h = gw.openSession()
    gw.executeStatement(h,
      "CREATE TABLE mc_a (id BIGINT) WITH ('connector'='datagen','number-of-rows'='5')")
    val t1 = gw.fetchResults(gw.executeStatement(h, "SHOW TABLES"), 0)
    val misses0 = gw.metaCache.misses.get()
    val t2 = gw.fetchResults(gw.executeStatement(h, "SHOW TABLES"), 0)
    assert(t2.rows == t1.rows)
    assert(gw.metaCache.misses.get() == misses0 && gw.metaCache.hits.get() >= 1)
    gw.executeStatement(h,
      "CREATE TABLE mc_b (id BIGINT) WITH ('connector'='datagen','number-of-rows'='5')")
    val t3 = gw.fetchResults(gw.executeStatement(h, "SHOW TABLES"), 0)
    assert(t3.rows.exists(_.exists(v => v != null && v.toString == "mc_b")))
  }

  test("batch paging is lazy: page 0 never materializes the full result") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val s = gw.session(h).spark
    import s.implicits._
    val acc = s.sparkContext.longAccumulator("rowsRead")
    // 10 pages across 20 partitions; the accumulator counts rows actually
    // deserialized, i.e. partitions the iterator has pulled to the driver
    s.range(0, 10000, 1, 20).map { x => acc.add(1); x }.toDF("id")
      .createOrReplaceTempView("lazy_src")
    val op = gw.executeStatement(h, "SELECT id FROM lazy_src")
    val page0 = gw.fetchResults(op, 0)
    assert(page0.rows.size == 1000 && !page0.eos && page0.nextToken.contains(1))
    assert(acc.value < 10000, s"page 0 pulled ${acc.value} rows — full materialization")
    // idempotent re-fetch of the same token serves the cached page
    val before = acc.value
    assert(gw.fetchResults(op, 0).rows == page0.rows && acc.value == before)
    // walk to EOS; total rows add up
    var total = page0.rows.size
    var tok = 1
    var eos = false
    while (!eos) {
      val p = gw.fetchResults(op, tok)
      total += p.rows.size; eos = p.eos; tok += 1
    }
    assert(total == 10000 && tok == 10)
    // token older than the retention window restarts the iterator (page 0
    // was evicted after 10 pages with an 8-page window) — same rows back
    val again = gw.fetchResults(op, 0)
    assert(again.rows == page0.rows && !again.eos)
  }

  test("gateway export drains multi-page results to CSV and JSON lines") {
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val s = gw.session(h).spark
    s.range(0, 2500).toDF("id").createOrReplaceTempView("exp_src")
    val op = gw.executeStatement(h, "SELECT id FROM exp_src ORDER BY id")
    val csv = gw.exportCsv(op)
    val lines = csv.split("\n")
    assert(lines.length == 2501 && lines(0) == "id" && lines(1) == "0" && lines.last == "2499")
    val jsonl = gw.exportJsonLines(op)
    assert(jsonl.length == 2500 && jsonl.head == """{"id":0}""")
    // file export streams page-by-page (one page in memory at a time)
    val f = java.nio.file.Files.createTempFile("graft-exp", ".csv")
    val n = gw.exportCsvTo(op, f)
    val fileLines = java.nio.file.Files.readAllLines(f)
    assert(n == 2500 && fileLines.size() == 2501)
    assert(fileLines.get(0) == "id" && fileLines.get(2500) == "2499")
  }

  test("JSON-lines export escapes and types values over paged rows") {
    val lines = Results.toJsonLines(
      Seq("s", "n", "b", "arr"),
      Seq(Seq("say \"hi\"\nnow", 42L, true, Seq(1, 2)), Seq(null, 1.5, false, Nil)))
    assert(lines(0) == """{"s":"say \"hi\"\nnow","n":42,"b":true,"arr":[1,2]}""")
    assert(lines(1) == """{"s":null,"n":1.5,"b":false,"arr":[]}""")
  }

  test("temporal join clause FOR SYSTEM_TIME AS OF is rewritten to snapshot join") {
    val r = FlinkDialect.rewrite(
      "SELECT * FROM fact_table JOIN dim_table FOR SYSTEM_TIME AS OF fact_table.proc_time ON fact_table.dim_id = dim_table.id")
    assert(!r.toUpperCase.contains("SYSTEM_TIME"))
    assert(r.contains("JOIN dim_table  ON"))
  }
}
