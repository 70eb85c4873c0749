package graft

import graft.engine.{Gateway, TableEnv}

/** Spark's relation commands cannot see a connector binding or a catalog
  * view (they resolve only through the analyzer rule), so the gateway
  * answers them with an error that names the object, and for a binding its
  * connector, instead of Spark's TABLE_OR_VIEW_NOT_FOUND for an object that
  * SHOW TABLES lists. */
class RegistryCommandsSpec extends SparkTestBase {

  /** A gateway with a datagen binding `rc_t` and a catalog view `rc_v`,
    * and a second session that never named either. */
  private def registry(): (Gateway, String, String) = {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("rc_creator")
    Seq("CREATE TABLE rc_t (id BIGINT, v DOUBLE) WITH ('connector'='datagen','number-of-rows'='3')",
      "CREATE VIEW rc_v AS SELECT id FROM rc_t").foreach { s =>
      val p = gw.fetchResults(gw.executeStatement(a, s), 0)
      assert(p.columns != Seq("error"), s"$s: ${p.rows}")
    }
    (gw, a, gw.openSession("rc_second"))
  }

  /** The one-row error page of `stmt`. */
  private def error(gw: Gateway, h: String, stmt: String): String = {
    val p = gw.fetchResults(gw.executeStatement(h, stmt), 0)
    assert(p.columns == Seq("error"), s"$stmt answered ${p.rows}")
    val e = p.rows.head.head.toString
    assert(!e.contains("TABLE_OR_VIEW_NOT_FOUND"), s"$stmt: $e")
    e
  }

  /** From both sessions: the binding's error names it and its connector,
    * the view's names it as a catalog view. */
  private def named(cmd: String, suffix: String = ""): Unit = {
    val (gw, a, b) = registry()
    Seq(a, b).foreach { h =>
      val t = error(gw, h, s"$cmd rc_t$suffix")
      assert(t == s"$cmd is not supported on connector binding 'rc_t' (connector 'datagen')", t)
      val v = error(gw, h, s"$cmd rc_v$suffix")
      assert(v == s"$cmd is not supported on catalog view 'rc_v'", v)
    }
    gw.closeSession(a); gw.closeSession(b)
  }

  test("TRUNCATE TABLE of a binding or a catalog view answers a named error") {
    named("TRUNCATE TABLE")
  }

  test("ANALYZE TABLE of a binding or a catalog view answers a named error") {
    named("ANALYZE TABLE", " COMPUTE STATISTICS")
  }

  test("SHOW PARTITIONS of a binding or a catalog view answers a named error") {
    named("SHOW PARTITIONS")
  }

  test("SHOW CREATE TABLE of a catalog view points to SHOW CREATE VIEW") {
    val (gw, a, b) = registry()
    Seq(a, b).foreach { h =>
      val e = error(gw, h, "SHOW CREATE TABLE rc_v")
      assert(e.contains("'rc_v' is a view, use SHOW CREATE VIEW"), e)
      // the binding and the view itself still answer
      assert(gw.fetchResults(gw.executeStatement(h, "SHOW CREATE TABLE rc_t"), 0)
        .columns != Seq("error"))
      assert(gw.fetchResults(gw.executeStatement(h, "SHOW CREATE VIEW rc_v"), 0)
        .rows.head.head.toString.contains("SELECT id FROM rc_t"))
    }
    gw.closeSession(a); gw.closeSession(b)
  }
}
