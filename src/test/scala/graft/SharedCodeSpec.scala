package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.engine.{Gateway, GraftSession, Jobs, TableEnv}
import graft.plans.ParamLiteral

/** Statements that differ only in their constants share compiled code: the
  * generated code of Filter, Project, HashAggregate and Expand reads numeric
  * and temporal literals from its references (`ParameterizeLiterals`).
  * Scans keep their pushed filters, window frames keep their literals, and
  * every value still answers as the literal it replaced. Spark's status
  * store keeps a bounded number of finished executions. */
class SharedCodeSpec extends SparkTestBase {

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

  private val fixtures = Seq(
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT, event_type STRING, " +
      "`value` DOUBLE, props STRING"))

  /** A fresh gateway session over the sf0.001 fixtures, no jobs running. */
  private def fixtureSession(): (Gateway, String) = {
    TableEnv.clear()
    Jobs.stopAll()
    val gw = new Gateway(spark)
    val h = gw.openSession("shared_code")
    fixtures.foreach { case (t, cols) =>
      assert(run(gw, h, s"CREATE TABLE $t ($cols) WITH ('connector'='filesystem'," +
        s"'path'='${sf(s"$t.parquet")}','format'='parquet')").columns != Seq("error"))
    }
    (gw, h)
  }

  private def cep(x: Int) =
    "SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id " +
      "MEASURES FIRST(A.event_id) AS start_event, COUNT(A.*) AS n_low, LAST(B.value) AS high_val " +
      "ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW PATTERN (A+ B) " +
      s"DEFINE A AS A.value < $x, B AS B.value >= $x)"

  private def tumble(minutes: Int) =
    "SELECT window_start, window_end, event_type, COUNT(*) AS cnt FROM TABLE(" +
      s"TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '$minutes' MINUTES)) " +
      "GROUP BY window_start, window_end, event_type"

  private def yearRange(y: Int) =
    "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders " +
      s"WHERE o_orderdate >= TIMESTAMP '$y-01-01 00:00:00' " +
      s"AND o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00' GROUP BY o_orderpriority"

  Seq(
    "a BIGINT equality filter" -> (
      (k: Int) => s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_custkey = $k",
      Seq(37, 38)),
    "a TIMESTAMP range aggregate (AQE stages)" -> (yearRange _, Seq(1993, 1994)),
    "an INT filter with ORDER BY ... LIMIT" -> (
      (n: Int) => "SELECT p_partkey, p_name, p_retailprice FROM part " +
        s"WHERE p_size = $n ORDER BY p_retailprice DESC, p_partkey LIMIT 10",
      Seq(7, 12)),
    "SELECT n" -> ((n: Int) => s"SELECT $n AS x", Seq(17, 18)),
    "a TUMBLE interval" -> (tumble _, Seq(10, 15)),
    "a MATCH_RECOGNIZE DEFINE threshold" -> (cep _, Seq(300, 400))
  ).foreach { case (shape, (stmt, values)) =>
    test(s"$shape: a statement that differs only in a constant compiles nothing") {
      val (gw, h) = fixtureSession()
      drain(gw, h, stmt(values.head))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      drain(gw, h, stmt(values(1)))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
        s"${stmt(values(1))} compiled new code")
      gw.closeSession(h)
    }
  }

  test("edge values answer as the literals they replace") {
    val (gw, h) = fixtureSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-edge").resolve("t").toString
    spark.sql("""SELECT * FROM VALUES
      (1L, 2147483647, CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), DATE'1969-07-20',
        TIMESTAMP_NTZ'1965-03-04 05:06:07.123456'),
      (2L, -2147483648, CAST('Infinity' AS DOUBLE), CAST('Infinity' AS FLOAT), DATE'1970-01-01',
        TIMESTAMP_NTZ'1970-01-01 00:00:00'),
      (3L, 0, CAST('-Infinity' AS DOUBLE), CAST('-Infinity' AS FLOAT), DATE'2024-02-29',
        TIMESTAMP_NTZ'2024-02-29 12:00:00'),
      (9223372036854775807L, 5, 1.5D, 1.5F, DATE'1900-01-01', TIMESTAMP_NTZ'1900-01-01 00:00:01'),
      (-9223372036854775808L, 6, 0.0D, 0.0F, DATE'1800-01-01', TIMESTAMP_NTZ'1969-12-31 23:59:59.999999')
      AS t(id, i, x, f, dt, ts)""").write.parquet(dir)
    assert(run(gw, h, "CREATE TABLE edge (id BIGINT, i INT, x DOUBLE, f FLOAT, dt DATE, " +
      s"ts TIMESTAMP(6)) WITH ('connector'='filesystem','path'='$dir','format'='parquet')")
      .columns != Seq("error"))
    def ids(where: String) =
      drain(gw, h, s"SELECT id FROM edge WHERE $where").map(_.head.asInstanceOf[Long]).sorted
    val min = Long.MinValue
    val max = Long.MaxValue
    Seq(
      "x = CAST('NaN' AS DOUBLE)" -> Seq(1L),
      "f = CAST('NaN' AS FLOAT)" -> Seq(1L),
      "x = CAST('Infinity' AS DOUBLE)" -> Seq(2L),
      "f = CAST('Infinity' AS FLOAT)" -> Seq(2L),
      "x = CAST('-Infinity' AS DOUBLE)" -> Seq(3L),
      "x < CAST('Infinity' AS DOUBLE)" -> Seq(min, 3L, max),
      "x = -0.0D" -> Seq(min),
      "id = 9223372036854775807" -> Seq(max),
      "id = -9223372036854775808" -> Seq(min),
      "i = 2147483647" -> Seq(1L),
      "i = -2147483648" -> Seq(2L),
      "dt = DATE '1969-07-20'" -> Seq(1L),
      "dt < DATE '1970-01-01'" -> Seq(min, 1L, max),
      "ts = TIMESTAMP '1965-03-04 05:06:07.123456'" -> Seq(1L),
      "ts < TIMESTAMP '1970-01-01 00:00:00'" -> Seq(min, 1L, max),
      "ts > TIMESTAMP '1969-12-31 23:59:59.999998' AND ts < TIMESTAMP '1970-01-01 00:00:01'" ->
        Seq(min, 2L)
    ).foreach { case (where, expected) => assert(ids(where) == expected, where) }

    val projected = drain(gw, h,
      "SELECT id, CASE WHEN id = 1 THEN -9223372036854775808 ELSE 9223372036854775807 END AS l, " +
        "CASE WHEN id = 1 THEN -2147483648 ELSE 2147483647 END AS n, " +
        "CASE WHEN id = 1 THEN -0.0D ELSE CAST('NaN' AS DOUBLE) END AS d, " +
        "CASE WHEN id = 1 THEN CAST('-Infinity' AS FLOAT) ELSE -0.0F END AS r, " +
        "CASE WHEN id = 1 THEN DATE '1969-07-20' ELSE DATE '1901-12-13' END AS dt, " +
        "CASE WHEN id = 1 THEN TIMESTAMP '1965-03-04 05:06:07.123456' " +
        "ELSE TIMESTAMP '1969-12-31 23:59:59.999999' END AS ts " +
        "FROM edge WHERE id IN (1, 2)").sortBy(_.head.asInstanceOf[Long])
    def bits(d: Any) = java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])
    def fbits(f: Any) = java.lang.Float.floatToRawIntBits(f.asInstanceOf[Float])
    assert(projected.map(r => Seq(r(0), r(1), r(2))) ==
      Seq(Seq(1L, Long.MinValue, Int.MinValue), Seq(2L, Long.MaxValue, Int.MaxValue)))
    assert(bits(projected(0)(3)) == bits(-0.0d))
    assert(projected(1)(3).asInstanceOf[Double].isNaN)
    assert(projected(0)(4) == Float.NegativeInfinity)
    assert(fbits(projected(1)(4)) == fbits(-0.0f))
    assert(projected.map(r => String.valueOf(r(5))) == Seq("1969-07-20", "1901-12-13"))
    assert(projected.map(r => String.valueOf(r(6))) ==
      Seq("1965-03-04T05:06:07.123456", "1969-12-31T23:59:59.999999"))
    gw.closeSession(h)
  }

  test("EXPLAIN of a parquet binding read still lists the pushed filter") {
    val (gw, h) = fixtureSession()
    val stmt = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = 5"
    val text = run(gw, h, s"EXPLAIN $stmt").rows.flatten.mkString("\n")
    assert("""PushedFilters: \[IsNotNull\(o_orderkey\), EqualTo\(o_orderkey,5\)\]""".r
      .findFirstIn(text).isDefined, text)
    assert("""Filter \(isnotnull\(o_orderkey#\d+L\) AND \(o_orderkey#\d+L = 5\)\)""".r
      .findFirstIn(text).isDefined, text)
    // the executed plan holds the parameterized literal, prints as the
    // literal did, and its scan keeps the plain literal it pushes down
    val plan = gw.session(h).spark.sql(stmt).queryExecution.executedPlan
    val filter = plan.collectFirst { case f: FilterExec => f }.get
    assert(filter.condition.find(_.isInstanceOf[ParamLiteral]).isDefined, filter)
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.dataFilters.exists(_.find(_ == Literal(5L)).isDefined), scan.dataFilters)
    assert(!scan.dataFilters.exists(_.find(_.isInstanceOf[ParamLiteral]).isDefined))
    val restored = plan.transformAllExpressions {
      case p: ParamLiteral => Literal(p.value, p.dataType)
    }
    assert(restored.toString == plan.toString)
    gw.closeSession(h)
  }

  test("a ROWS BETWEEN 2 PRECEDING AND CURRENT ROW window answers correctly") {
    val (gw, h) = fixtureSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-rows").resolve("t").toString
    spark.range(1, 11).write.parquet(dir)
    assert(run(gw, h, "CREATE TABLE nums (id BIGINT) WITH ('connector'='filesystem'," +
      s"'path'='$dir','format'='parquet')").columns != Seq("error"))
    val rows = drain(gw, h, "SELECT id, SUM(id) OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING " +
      "AND CURRENT ROW) AS s FROM nums WHERE id <= 6")
    assert(rows.map(r => (r(0), r(1))).sortBy(_._1.asInstanceOf[Long]) ==
      Seq((1L, 1L), (2L, 3L), (3L, 6L), (4L, 9L), (5L, 12L), (6L, 15L)))
    gw.closeSession(h)
  }

  test("after a few hundred statements Spark keeps at most the capped finished executions") {
    val gw = new Gateway(spark)
    val h = gw.openSession("retention")
    (1 to 300).foreach(i => drain(gw, h, s"SELECT $i AS x"))
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(store.executionsCount() <= GraftSession.RetainedExecutions)
    }
    gw.closeSession(h)
  }
}
