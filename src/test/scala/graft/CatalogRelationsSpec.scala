package graft

import graft.engine.{Gateway, TableEnv}

/** Bindings and catalog views resolve at analysis time in every session
  * (`engine.CatalogRelations`): a session that never named an object sees it
  * in listings and relation commands, answers as the creating session does,
  * and a self-reaching catalog view fails with a named error. */
class CatalogRelationsSpec extends SparkTestBase {

  private def run(gw: Gateway, h: String, s: String) =
    gw.fetchResults(gw.executeStatement(h, s), 0)

  test("SHOW TABLES and SHOW VIEWS in a new session list what another session created") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("list_a")
    assert(run(gw, a, "CREATE TABLE list_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='2')").columns != Seq("error"))
    assert(run(gw, a, "CREATE VIEW list_v AS SELECT id FROM list_t").columns != Seq("error"))
    val b = gw.openSession("list_b")
    assert(run(gw, b, "CREATE TEMPORARY VIEW list_own AS SELECT 1 AS x").columns != Seq("error"))
    val tables = run(gw, b, "SHOW TABLES")
    assert(tables.columns == Seq("namespace", "tableName", "isTemporary"))
    val names = tables.rows.map(_(1).toString)
    Seq("list_t", "list_v", "list_own", "dual").foreach(n =>
      assert(names.count(_ == n) == 1, s"SHOW TABLES in session B: $n missing or repeated in $names"))
    Seq("SHOW TABLES IN spark_catalog.default", "SHOW TABLES LIKE 'list_*'").foreach { q =>
      val listed = run(gw, b, q).rows.map(_(1).toString)
      assert(listed.contains("list_t") && listed.contains("list_v"), s"$q: $listed")
    }
    assert(!run(gw, b, "SHOW TABLES LIKE 'nomatch*'").rows.exists(_(1) == "list_t"))
    val views = run(gw, b, "SHOW VIEWS")
    assert(views.columns == Seq("namespace", "viewName", "isTemporary"))
    val viewNames = views.rows.map(_(1).toString)
    assert(Seq("list_v", "list_own", "dual").forall(viewNames.contains), viewNames)
    assert(!viewNames.contains("list_t"), s"a binding is not a view: $viewNames")
    // a session's temporary view of a shared name is listed once
    assert(run(gw, b, "CREATE TEMPORARY VIEW list_t AS SELECT 9 AS id").columns != Seq("error"))
    assert(run(gw, b, "SHOW TABLES").rows.count(_(1).toString == "list_t") == 1)
    Seq("DROP VIEW list_v", "DROP TABLE list_t").foreach(s =>
      assert(run(gw, a, s).columns != Seq("error"), s))
    val after = run(gw, a, "SHOW TABLES").rows.map(_(1).toString)
    assert(!after.contains("list_t") && !after.contains("list_v"), after)
    gw.closeSession(a); gw.closeSession(b)
  }

  test("relation commands from a second session: the admin sweep answers as the creating session does") {
    // EngineSpec's admin-sweep list, run by a session that never named
    // adm_t or adm_v, plus the view forms of the relation commands. The
    // expected non-error set is the creating session's on the engine that
    // materialized a temp view per binding and view in each session.
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("adm_creator")
    assert(run(gw, a, "CREATE TABLE adm_t (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','number-of-rows'='3')").columns != Seq("error"))
    assert(run(gw, a, "CREATE VIEW adm_v AS SELECT id FROM adm_t").columns != Seq("error"))
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
      "STOP JOB 'adm_no_such_job' WITH SAVEPOINT",
      "DESCRIBE adm_v", "DESC adm_v", "SHOW COLUMNS FROM adm_v",
      "SHOW CREATE TABLE adm_v", "EXPLAIN SELECT id FROM adm_v",
      "ANALYZE TABLE adm_v COMPUTE STATISTICS", "TRUNCATE TABLE adm_v")
    val failing = Set(
      "SHOW PARTITIONS adm_t", "USE CATALOG default_catalog",
      "ANALYZE TABLE adm_t COMPUTE STATISTICS", "LOAD MODULE core",
      "LOAD MODULE hive", "CREATE MODULE adm_m", "DROP MODULE adm_m",
      "TRUNCATE TABLE adm_t", "END", "SHOW CREATE TABLE adm_v",
      "ANALYZE TABLE adm_v COMPUTE STATISTICS", "TRUNCATE TABLE adm_v")
    val b = gw.openSession("adm_second")
    val answers = stmts.map(s => s -> run(gw, b, s)).toMap
    val ok = answers.collect { case (s, p) if p.columns != Seq("error") => s }.toSet
    assert(ok == stmts.toSet -- failing,
      s"answered: ${(ok -- (stmts.toSet -- failing)).mkString(", ")}; " +
        s"failed: ${((stmts.toSet -- failing) -- ok).map(s => s -> answers(s).rows)
          .mkString(", ")}")
    assert(answers("SHOW COLUMNS FROM adm_t").rows == Seq(Seq("id"), Seq("v")))
    assert(answers("SHOW COLUMNS FROM adm_v").rows == Seq(Seq("id")))
    assert(answers("DESCRIBE adm_v").columns == Seq("col_name", "data_type", "comment"))
    assert(answers("DESCRIBE adm_v").rows.map(_.take(2)) == Seq(Seq("id", "bigint")))
    assert(answers("EXECUTE PLAN '/tmp/adm_plan.json'").rows.size == 3)
    Seq("DROP VIEW adm_v", "DROP TABLE adm_t").foreach(s => run(gw, a, s))
    gw.closeSession(a); gw.closeSession(b)
  }

  test("a catalog view that reaches itself fails with a named error, at CREATE and at reference") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("cyc_a")
    val b = gw.openSession("cyc_b")
    assert(run(gw, a, "CREATE VIEW cyc_x AS SELECT 1 AS x").columns != Seq("error"))
    assert(run(gw, a, "CREATE VIEW cyc_y AS SELECT x FROM cyc_x").columns != Seq("error"))
    def cycleError(p: gw.Page, what: String): Unit = {
      assert(p.columns == Seq("error"), s"$what answered ${p.rows}")
      val msg = p.rows.head.head.toString
      assert(msg.contains("view cycle") && !msg.contains("Max iterations") &&
        !msg.contains("too complex"), s"$what: $msg")
    }
    cycleError(run(gw, a, "CREATE OR REPLACE VIEW cyc_x AS SELECT * FROM cyc_x"), "self reference")
    cycleError(run(gw, a, "CREATE OR REPLACE VIEW cyc_x AS SELECT x FROM cyc_y"), "mutual reference")
    // the refused CREATEs left the old definitions in place
    assert(run(gw, b, "SELECT x FROM cyc_y").rows == Seq(Seq(1)))
    // a cyclic definition that reached the registry some other way fails
    // by name at reference time, in any session
    TableEnv.registerView("cyc_x", "SELECT x FROM cyc_y")
    cycleError(run(gw, b, "SELECT * FROM cyc_x"), "reference to a cyclic view")
    cycleError(run(gw, a, "SELECT count(*) FROM cyc_y"), "reference through a cyclic view")
    gw.closeSession(a); gw.closeSession(b)
    TableEnv.clear()
  }

  test("a temporary view over a filesystem binding sees appends; a statement naming a binding twice reads one listing") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("fs_a")
    val b = gw.openSession("fs_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-catrel").toString
    try {
      assert(run(gw, a, "CREATE TABLE fs_t (id BIGINT) WITH " +
        s"('connector'='filesystem','path'='$dir/t','format'='parquet')").columns != Seq("error"))
      assert(run(gw, a, "INSERT INTO fs_t VALUES (1), (2)").columns != Seq("error"))
      assert(run(gw, b, "CREATE TEMPORARY VIEW fs_tv AS SELECT id FROM fs_t")
        .columns != Seq("error"))
      assert(run(gw, b, "SELECT count(*) FROM fs_tv").rows == Seq(Seq(2L)))
      assert(run(gw, a, "INSERT INTO fs_t VALUES (3)").columns != Seq("error"))
      assert(run(gw, b, "SELECT count(*) FROM fs_tv").rows == Seq(Seq(3L)),
        "the temporary view kept a point-in-time file listing")
      // a later temporary shadow of the binding's name wins inside the
      // temporary view's body too (Flink: temporary objects shadow)
      assert(run(gw, b, "CREATE TEMPORARY VIEW fs_t AS SELECT 7L AS id").columns != Seq("error"))
      assert(run(gw, b, "SELECT count(*) FROM fs_tv").rows == Seq(Seq(1L)))
      assert(run(gw, b, "DROP TEMPORARY VIEW fs_t").columns != Seq("error"))
      val self = run(gw, b, "SELECT count(*) FROM fs_t x JOIN fs_t y ON x.id = y.id")
      assert(self.rows == Seq(Seq(3L)), self.rows)
      val plan = gw.session(b).spark
        .sql("SELECT * FROM fs_t x JOIN fs_t y ON x.id = y.id").queryExecution.analyzed
      val indexes = plan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
      }.map { case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        System.identityHashCode(h.location) }
      assert(indexes.size == 2 && indexes.distinct.size == 1,
        s"each reference listed the directory on its own: $indexes")
    } finally {
      run(gw, a, "DROP TABLE IF EXISTS fs_t")
      gw.closeSession(a); gw.closeSession(b)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
