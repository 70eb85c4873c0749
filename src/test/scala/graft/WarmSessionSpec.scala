package graft

import org.apache.spark.metrics.source.CodegenMetrics
import graft.engine.{Gateway, GraftSession, Jobs, TableEnv}

/** A gateway session starts warm: it is a clone of the gateway's prepared
  * template, so it speaks the same surface as a `prepare`d session, keeps
  * its own conf, temp views and modules, and shares the one artifact state
  * (compiled code, `ADD JAR` jars) with every other session. Bindings whose
  * source cannot be read answer with a named error. */
class WarmSessionSpec extends SparkTestBase {

  private def run(gw: Gateway, h: String, s: String) =
    gw.fetchResults(gw.executeStatement(h, s), 0)

  /** Every page of the statement, to EOS. */
  private def drain(gw: Gateway, h: String, s: String): Seq[Seq[Any]] = {
    val op = gw.executeStatement(h, s)
    var p = gw.fetchResults(op, 0)
    var rows = p.rows
    while (!p.eos) { p = gw.fetchResults(op, p.nextToken.get); rows ++= p.rows }
    assert(p.columns != Seq("error"), s"$s: ${p.rows}")
    rows
  }

  test("a second session runs a statement without compiling any code") {
    TableEnv.clear()
    Jobs.stopAll()
    val dir = java.nio.file.Files.createTempDirectory("graft-warm").resolve("t").toString
    spark.range(0, 2000).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
      .write.parquet(dir)
    val gw = new Gateway(spark)
    val a = gw.openSession("warm_a")
    assert(run(gw, a, "CREATE TABLE warm_t (id BIGINT, k BIGINT, v DOUBLE) WITH " +
      s"('connector'='filesystem','path'='$dir','format'='parquet')").columns != Seq("error"))
    val stmt = "SELECT k, count(*) AS n, sum(v) AS s FROM warm_t GROUP BY k"
    val first = drain(gw, a, stmt)
    assert(first.size == 7)
    val b = gw.openSession("warm_b")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = drain(gw, b, stmt)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "session B recompiled code that session A already compiled")
    assert(second.map(_.map(String.valueOf)).toSet == first.map(_.map(String.valueOf)).toSet)
    gw.closeSession(a); gw.closeSession(b)
  }

  test("a gateway session has the functions, CUMULATE rule and modules of a prepared session") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("warm_surface")
    val cloned = gw.session(h).spark
    val prepared = GraftSession.prepare(spark.newSession())
    def userFunctions(s: org.apache.spark.sql.SparkSession) =
      s.sql("SHOW USER FUNCTIONS").collect().map(_.getString(0)).toSet
    assert(userFunctions(cloned).nonEmpty)
    assert(userFunctions(cloned) == userFunctions(prepared))
    assert(cloned.experimental.extraOptimizations.contains(graft.plans.CumulateTwoPhase))
    assert(cloned.experimental.extraOptimizations == prepared.experimental.extraOptimizations)
    assert(cloned.conf.get("spark.sql.mapKeyDedupPolicy") == "LAST_WIN")
    assert(run(gw, h, "SHOW FULL MODULES").rows == Seq(Seq("core", true)))
    assert(run(gw, h, "SELECT dummy FROM dual").rows == Seq(Seq(1)))
    assert(run(gw, h, "SELECT SPLIT_INDEX('a,b,c', ',', 1) AS s").rows == Seq(Seq("b")))
    gw.closeSession(h)
  }

  test("two clones are isolated from each other and from the template") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("iso_a")
    val b = gw.openSession("iso_b")
    val split = "SELECT SPLIT_INDEX('a,b,c', ',', 1) AS s"
    assert(run(gw, a, "CREATE TEMPORARY VIEW iso_v AS SELECT 1 AS x").columns != Seq("error"))
    assert(run(gw, a, "SET 'spark.sql.shuffle.partitions' = '7'").columns != Seq("error"))
    assert(run(gw, a, "UNLOAD MODULE core").columns != Seq("error"))
    assert(run(gw, a, "SELECT x FROM iso_v").rows == Seq(Seq(1)))
    assert(run(gw, a, split).columns == Seq("error"), "core unloaded in session A")
    assert(gw.session(a).spark.conf.get("spark.sql.shuffle.partitions") == "7")
    val c = gw.openSession("iso_c")
    Seq(b -> "an earlier clone", c -> "a later clone").foreach { case (h, which) =>
      assert(run(gw, h, "SELECT x FROM iso_v").columns == Seq("error"), s"temp view in $which")
      assert(gw.session(h).spark.conf.get("spark.sql.shuffle.partitions") != "7", s"SET in $which")
      assert(run(gw, h, split).rows == Seq(Seq("b")), s"core functions in $which")
      assert(run(gw, h, "SHOW MODULES").rows == Seq(Seq("core")), s"modules in $which")
    }
    // re-loading core in a clone brings its functions back
    assert(run(gw, a, "LOAD MODULE core").columns != Seq("error"))
    assert(run(gw, a, split).rows == Seq(Seq("b")))
    Seq(a, b, c).foreach(gw.closeSession)
  }

  test("UNLOAD core, a user function named like a core function, LOAD core: core is back") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("reload")
    val split = "SELECT SPLIT_INDEX('a,b,c', ',', 1) AS s"
    assert(run(gw, h, "UNLOAD MODULE core").columns != Seq("error"))
    assert(run(gw, h, split).columns == Seq("error"))
    gw.session(h).spark.sql(
      "CREATE TEMPORARY FUNCTION quality_stats(s STRING) RETURNS INT RETURN length(s)")
    assert(run(gw, h, "LOAD MODULE core").columns != Seq("error"))
    assert(run(gw, h, "SHOW MODULES").rows == Seq(Seq("core")))
    assert(run(gw, h, split).rows == Seq(Seq("b")), "core listed as loaded, its functions missing")
    // USE MODULES that keeps core in use leaves the catalog in place
    assert(run(gw, h, "USE MODULES core").columns != Seq("error"))
    assert(run(gw, h, split).rows == Seq(Seq("b")))
    gw.closeSession(h)
  }

  test("ADD JAR in one session: every session loads the jar's classes") {
    import java.nio.file.Files
    TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("jar_a")
    val b = gw.openSession("jar_b")
    val cls = s"GraftJarProbe${System.nanoTime()}"
    val src = Files.createTempDirectory("graft-jar-src")
    val source = src.resolve(s"$cls.java")
    Files.writeString(source,
      s"public class $cls { public static String answer() { return \"from the jar\"; } }")
    assert(javax.tools.ToolProvider.getSystemJavaCompiler
      .run(null, null, null, "-d", src.toString, source.toString) == 0)
    val jarPath = Files.createTempFile("graft-shared", ".jar")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(jarPath))
    zos.putNextEntry(new java.util.zip.ZipEntry(s"$cls.class"))
    zos.write(Files.readAllBytes(src.resolve(s"$cls.class"))); zos.close()
    val call = s"SELECT reflect('$cls', 'answer') AS r"
    assert(run(gw, b, call).columns == Seq("error"), "the class loads without the jar")
    val added = run(gw, a, s"ADD JAR '$jarPath'")
    assert(added.columns != Seq("error"), added.rows)
    assert(run(gw, a, call).rows == Seq(Seq("from the jar")))
    assert(run(gw, b, call).rows == Seq(Seq("from the jar")),
      "session B cannot load a class from the jar session A added")
    val jars = run(gw, b, "SHOW JARS").rows.map(_.head.toString)
    assert(jars.exists(_.contains(jarPath.getFileName.toString)), jars)
    gw.closeSession(a); gw.closeSession(b)
  }

  /** The one-row error page of `stmt`. */
  private def error(gw: Gateway, h: String, stmt: String): String = {
    val p = run(gw, h, stmt)
    assert(p.columns == Seq("error"), s"$stmt answered ${p.rows}")
    p.rows.head.head.toString
  }

  test("a csv binding over a missing path answers a named read error") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("read_csv")
    val missing = s"/tmp/graft-missing-${System.nanoTime()}"
    assert(run(gw, h, "CREATE TABLE miss_csv (id BIGINT, s STRING) WITH " +
      s"('connector'='filesystem','path'='$missing','format'='csv')").columns != Seq("error"))
    assert(run(gw, h, "SHOW TABLES").rows.exists(_(1) == "miss_csv"))
    Seq("SELECT * FROM miss_csv",
        "SELECT * FROM miss_csv /*+ OPTIONS('csv.ignore-parse-errors'='true') */").foreach { q =>
      val e = error(gw, h, q)
      assert(e.contains("miss_csv") && e.contains("filesystem"), s"$q: $e")
      assert(e.contains(missing), s"$q: the cause is lost: $e")
      assert(!e.contains("TABLE_OR_VIEW_NOT_FOUND"), s"$q: $e")
    }
    gw.closeSession(h)
  }

  test("a jdbc binding over a missing Derby table answers a named read error") {
    TableEnv.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft-derby-miss")
    val gw = new Gateway(spark)
    val h = gw.openSession("read_jdbc")
    assert(run(gw, h, "CREATE TABLE miss_jdbc (id BIGINT) WITH ('connector'='jdbc'," +
      s"'url'='jdbc:derby:$dir/db;create=true','table-name'='no_such_table')").columns != Seq("error"))
    val e = error(gw, h, "SELECT id FROM miss_jdbc")
    assert(e.contains("miss_jdbc") && e.contains("jdbc"), e)
    assert(e.toUpperCase.contains("NO_SUCH_TABLE") && e.contains("does not exist"), e)
    assert(!e.contains("TABLE_OR_VIEW_NOT_FOUND"), e)
    gw.closeSession(h)
  }
}
