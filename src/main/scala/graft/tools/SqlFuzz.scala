package graft.tools

import scala.util.Random
import java.nio.file.{Files, Paths}

/** Cross-engine executed SQL differential fuzz (dev tool, r12).
  *
  * Generates seeded random queries over the driver's TPC-H-ish tables in
  * PAIRED dialect forms — the Flink-SQL form runs through the full
  * FlinkDialect.sql path (rewrite + function shims + Spark execution), the
  * ANSI form is written to oracle_sql.json for DuckDB — and dumps results in
  * the exact layout graft.Verify uses, so `tools/verify_local.py <sfDir>
  * <outDir>` is the comparator, i.e. the same row/schema/value gate the
  * driver grades with.
  *
  * This covers the COMBINATION space the 131 hand-authored gates cannot:
  * random predicate/projection/group-key/join/frame mixes, each built only
  * from constructs whose cross-engine semantics are pinned:
  *  - double aggregation goes through DECIMAL(18,4) (exact, order-free);
  *    per-row double arithmetic is IEEE-identical in both engines;
  *  - every query ends in a total ORDER BY over its output columns with
  *    explicit NULLS FIRST (Spark's ASC default; DuckDB's is NULLS LAST);
  *  - LIMIT only under an ORDER BY whose keys cover all output columns or
  *    start with a unique key (ties at the cut are then identical rows);
  *  - SIMILAR TO is emitted as regexp_full_match on the DuckDB side (DuckDB's
  *    own SIMILAR TO takes a raw regex, not SQL-standard %/_ patterns).
  *
  * Usage: runMain graft.tools.SqlFuzz <sfDir> <outDir> <seed> <count>
  * Compare: python3 tools/verify_local.py <sfDir> <outDir>
  */
object SqlFuzz {

  /** One generated query: name, Flink-dialect text, DuckDB text, plus
    * optional per-case Spark setup SQL (temp views for routes that need
    * named tables, e.g. the temporal as-of join). */
  final case class Case(name: String, flink: String, duck: String,
      prep: Seq[String] = Nil)

  /** A paired SQL fragment (usually identical on both sides). */
  final case class Frag(f: String, d: String)
  private def same(s: String) = Frag(s, s)

  // ------------------------------------------------------------ columns --
  // Only columns whose cross-engine behavior is boring: int keys, doubles
  // used per-row or decimal-pinned in aggregates, strings with plain ASCII.
  private val intCols = Map(
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "part" -> Seq("p_partkey", "p_size"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id", "n_chars"))
  private val dblCols = Map(
    "orders" -> Seq("o_totalprice"),
    "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount"),
    "customer" -> Seq("c_acctbal"),
    "part" -> Seq("p_retailprice"),
    "supplier" -> Seq("s_acctbal"),
    "events" -> Seq("value"),
    "nation" -> Seq[String](),
    "documents" -> Seq[String]())
  private val strCols = Map(
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "lineitem" -> Seq("l_returnflag", "l_linestatus"),
    "customer" -> Seq("c_name", "c_mktsegment"),
    "part" -> Seq("p_name", "p_brand", "p_type"),
    "supplier" -> Seq("s_name"),
    "nation" -> Seq("n_name"),
    "events" -> Seq("event_type"),
    "documents" -> Seq("lang", "source"))
  /** Unique-ordering expression per table — the deterministic tie-break for
    * LIMIT/OVER. lineitem's key is composite; l_linenumber is 1-based and
    * small, so *10 keeps the combination collision-free. */
  private val uniqExpr = Map(
    "orders" -> "o_orderkey", "lineitem" -> "(l_orderkey * 10 + l_linenumber)",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "nation" -> "n_nationkey",
    "events" -> "event_id", "documents" -> "doc_id")
  private val pkCol = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "nation" -> "n_nationkey",
    "events" -> "event_id", "documents" -> "doc_id")
  private val tables = pkCol.keys.toSeq.sorted

  private val strLits = Map(
    "o_orderstatus" -> Seq("O", "F", "P"),
    "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("O", "F"),
    "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
    "p_brand" -> Seq("Brand#11", "Brand#23", "Brand#35", "Brand#44", "Brand#55"),
    "lang" -> Seq("en", "de", "fr", "es", "zh"),
    "source" -> Seq("web", "wiki", "books", "code", "news"),
    "event_type" -> Seq("click", "view", "purchase", "scroll", "login"))

  // ------------------------------------------------------------- helpers --
  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  /** Decimal-pinned double SUM — identical text, exact in both engines. */
  private def dsum(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"

  /** A paired predicate over `t`'s columns. */
  private def pred(r: Random, t: String, qual: String = ""): Frag = {
    val q = if (qual.isEmpty) "" else qual + "."
    def intPred: Frag = {
      val c = q + pick(r, intCols(t))
      same(r.nextInt(4) match {
        case 0 => s"$c % ${2 + r.nextInt(9)} = ${r.nextInt(2)}"
        case 1 => s"$c > ${r.nextInt(5000)}"
        case 2 => s"$c BETWEEN ${r.nextInt(1000)} AND ${1000 + r.nextInt(9000)}"
        case _ => s"$c <> ${r.nextInt(100)}"
      })
    }
    def dblPred: Frag = {
      val cs = dblCols(t)
      if (cs.isEmpty) intPred else {
        val c = q + pick(r, cs)
        same(r.nextInt(3) match {
          case 0 => s"$c > ${r.nextInt(2000)}.${r.nextInt(10)}"
          case 1 => s"$c BETWEEN ${r.nextInt(50)} AND ${100 + r.nextInt(100000)}"
          case _ => s"$c < ${r.nextInt(300000)}.5"
        })
      }
    }
    def strPred: Frag = {
      val c0 = pick(r, strCols(t)); val c = q + c0
      val lits = strLits.getOrElse(c0, Seq("A", "B", "C"))
      r.nextInt(5) match {
        case 0 => same(s"$c = '${pick(r, lits)}'")
        case 1 => same(s"$c IN (${r.shuffle(lits).take(1 + r.nextInt(3)).map(l => s"'$l'").mkString(", ")})")
        case 2 => same(s"$c LIKE '${pick(r, lits).take(1)}%'")
        case 3 =>
          // SQL-standard SIMILAR TO on the Flink side; DuckDB's SIMILAR TO
          // is a raw-regex full match, so pair with regexp_full_match.
          val p = pick(r, lits).take(1)
          Frag(s"$c SIMILAR TO '$p%'", s"regexp_full_match($c, '$p.*')")
        case _ => same(s"$c <> '${pick(r, lits)}'")
      }
    }
    val atoms = Seq.fill(1 + r.nextInt(2))(r.nextInt(3) match {
      case 0 => intPred; case 1 => dblPred; case _ => strPred
    })
    val sep = if (r.nextBoolean()) " AND " else " OR "
    val f0 = atoms.map(_.f).mkString(sep)
    val d0 = atoms.map(_.d).mkString(sep)
    if (r.nextInt(8) == 0) Frag(s"NOT ($f0)", s"NOT ($d0)") else Frag(f0, d0)
  }

  /** A paired scalar projection over `t` (per-row double arithmetic is
    * IEEE-identical; no aggregation). CHAR_LENGTH and bare-VARCHAR casts are
    * Flink-side constructs — DuckDB pairs them with length()/VARCHAR. */
  private def proj(r: Random, t: String): Frag = {
    def ic = pick(r, intCols(t))
    def sc = pick(r, strCols(t))
    r.nextInt(12) match {
      case 10 =>
        // explicit-length VARCHAR cast: Flink trims to n (FLINK-24413);
        // the dialect shims it, DuckDB pairs with substr (bind the column
        // once — `sc` re-picks per reference)
        val c = sc; val n = 1 + r.nextInt(4)
        Frag(s"CAST($c AS VARCHAR($n))", s"substr($c, 1, $n)")
      case 11 =>
        // explicit-length CHAR cast: Flink trims AND pads with spaces;
        // DuckDB's rpad does exactly both
        val c = sc; val n = 2 + r.nextInt(5)
        Frag(s"CAST($c AS CHAR($n))", s"rpad($c, $n, ' ')")
      case 0 => same(s"$ic + ${r.nextInt(100)}")
      case 1 => { val c = ic; same(s"$c * ${1 + r.nextInt(5)} - $c") }
      case 2 => same(s"CASE WHEN $ic % 2 = 0 THEN 'even' WHEN $ic % 3 = 0 THEN 'odd3' ELSE 'other' END")
      case 3 => { val c = sc; same(s"UPPER($c) || '_' || LOWER($c)") }
      case 4 => same(s"SUBSTRING($sc, 1, ${1 + r.nextInt(4)})")
      case 5 => { val c = sc; Frag(s"CHAR_LENGTH($c)", s"length($c)") }
      case 6 => { val c = sc
        same(s"COALESCE(NULLIF($c, '${pick(r, strLits.getOrElse(c, Seq("X")))}'), 'repl')") }
      case 7 => { val c = ic; val s2 = sc
        Frag(s"CAST($c AS VARCHAR) || ':' || $s2", s"CAST($c AS VARCHAR) || ':' || $s2") }
      case 8 =>
        // outer DOUBLE cast: a raw DECIMAL output column reaches pandas as
        // Decimal('1800.00') from Spark parquet but float 1800.0 from
        // DuckDB — a representation mismatch, not a value difference
        val d = dblCols(t); if (d.isEmpty) same(s"$ic % 10")
        else same(s"CAST(CAST(${pick(r, d)} * 2 AS DECIMAL(18,2)) AS DOUBLE)")
      case _ => same(s"POSITION('a' IN $sc)")
    }
  }

  private def orderAll(cols: Seq[String]): String =
    cols.map(c => s"$c NULLS FIRST").mkString(", ")

  /** Instantiate a template against both sides of paired fragments.
    * Plain token substitution — String.format would misread the `%` in
    * LIKE patterns and modulo expressions as conversion specifiers. */
  private def fill(tpl: String, frags: Frag*): Case2 = {
    var f = tpl; var d = tpl
    frags.zipWithIndex.foreach { case (fr, i) =>
      f = f.replace(s"@W$i@", fr.f); d = d.replace(s"@W$i@", fr.d)
    }
    Case2(f, d)
  }
  final case class Case2(f: String, d: String)

  // -------------------------------------------------------------- shapes --

  /** Shape 1: projection + filter + total order + optional LIMIT.
    * The ORDER BY covers every output column, so rows tying at a LIMIT cut
    * are identical — the selected multiset is deterministic. */
  private def genProjFilter(r: Random, name: String): Case = {
    val t = pick(r, tables)
    val pk = pkCol(t)
    val es = (0 until 1 + r.nextInt(3)).map(i => (proj(r, t), s"e$i"))
    val w = pred(r, t)
    val lim = if (r.nextBoolean()) s" LIMIT ${10 + r.nextInt(90)}" else ""
    val ord = s"ORDER BY pk NULLS FIRST, ${orderAll(es.map(_._2))}$lim"
    def sel(side: Frag => String) =
      es.map { case (e, a) => s"${side(e)} AS $a" }.mkString(", ")
    val c = fill(s"SELECT $pk AS pk, @ES@ FROM $t WHERE @W0@ $ord", w)
    Case(name, c.f.replace("@ES@", sel(_.f)), c.d.replace("@ES@", sel(_.d)))
  }

  /** Shape 2: group-by aggregate (+HAVING) — decimal-pinned double sums. */
  private def genAgg(r: Random, name: String): Case = {
    val t = pick(r, tables)
    val keys = r.shuffle(strCols(t) ++ intCols(t).map(c => s"$c % ${2 + r.nextInt(5)}"))
      .take(1 + r.nextInt(2)).zipWithIndex.map { case (k, i) => (k, s"k$i") }
    val aggs = scala.collection.mutable.Buffer[Frag](same("COUNT(*) AS cnt"))
    if (r.nextBoolean()) aggs += same(s"COUNT(DISTINCT ${pick(r, intCols(t))}) AS cd")
    if (r.nextBoolean() && dblCols(t).nonEmpty) aggs += same(s"${dsum(pick(r, dblCols(t)))} AS s0")
    if (r.nextBoolean()) aggs += same(s"MIN(${pick(r, strCols(t))}) AS mn")
    if (r.nextBoolean()) aggs += same(s"MAX(${pick(r, intCols(t))}) AS mx")
    if (r.nextBoolean()) {
      // DuckDB SUM(int) is HUGEINT (pandas reads it as float) — pin BIGINT
      val c = pick(r, intCols(t))
      aggs += Frag(s"SUM($c) AS si", s"CAST(SUM($c) AS BIGINT) AS si")
    }
    val hav = if (r.nextInt(3) == 0) s" HAVING COUNT(*) > ${r.nextInt(4)}" else ""
    val w = pred(r, t)
    val c = fill(s"SELECT ${keys.map { case (k, a) => s"$k AS $a" }.mkString(", ")}, " +
      s"@AGGS@ FROM $t WHERE @W0@ GROUP BY ${keys.map(_._1).mkString(", ")}$hav " +
      s"ORDER BY ${orderAll(keys.map(_._2))}", w)
    Case(name, c.f.replace("@AGGS@", aggs.map(_.f).mkString(", ")),
      c.d.replace("@AGGS@", aggs.map(_.d).mkString(", ")))
  }

  /** Shape 3: join (+optional agg) across related tables. */
  private def genJoin(r: Random, name: String): Case = {
    val (lt, rt, on) = pick(r, Seq(
      ("orders", "customer", "o_custkey = c_custkey"),
      ("customer", "nation", "c_nationkey = n_nationkey"),
      ("lineitem", "orders", "l_orderkey = o_orderkey"),
      ("lineitem", "part", "l_partkey = p_partkey"),
      ("supplier", "nation", "s_nationkey = n_nationkey")))
    val jt = pick(r, Seq("JOIN", "LEFT JOIN"))
    val w = pred(r, lt)
    if (r.nextBoolean()) {
      val k = pick(r, strCols(rt) ++ strCols(lt))
      val measures = Seq("COUNT(*) AS cnt") ++
        (if (dblCols(lt).nonEmpty && r.nextBoolean()) Seq(s"${dsum(pick(r, dblCols(lt)))} AS s0") else Nil)
      val c = fill(s"SELECT $k AS k0, ${measures.mkString(", ")} FROM $lt $jt $rt ON $on " +
        s"WHERE @W0@ GROUP BY $k ORDER BY k0 NULLS FIRST", w)
      Case(name, c.f, c.d)
    } else {
      // ORDER BY covers both output columns → deterministic under LIMIT
      val pk = pkCol(lt)
      val c0 = pick(r, strCols(rt))
      val c = fill(s"SELECT $pk AS pk, $c0 AS c0 FROM $lt $jt $rt ON $on " +
        s"WHERE @W0@ ORDER BY pk NULLS FIRST, c0 NULLS FIRST LIMIT ${20 + r.nextInt(200)}", w)
      Case(name, c.f, c.d)
    }
  }

  /** Shape 4: set operation between two filtered selects of one table. */
  private def genSetOp(r: Random, name: String): Case = {
    val t = pick(r, tables)
    val cols = r.shuffle(intCols(t)).take(1) ++ r.shuffle(strCols(t)).take(1)
    val op = pick(r, Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT"))
    val w1 = pred(r, t); val w2 = pred(r, t)
    val c = fill(s"SELECT ${cols.mkString(", ")} FROM $t WHERE @W0@ $op " +
      s"SELECT ${cols.mkString(", ")} FROM $t WHERE @W1@ " +
      s"ORDER BY ${orderAll(cols)}", w1, w2)
    Case(name, c.f, c.d)
  }

  /** Shape 5: subquery filters — IN / NOT EXISTS / scalar compare. */
  private def genSubq(r: Random, name: String): Case = {
    r.nextInt(3) match {
      case 0 =>
        val wi = pred(r, "customer"); val wo = pred(r, "orders")
        val c = fill(s"SELECT o_orderkey AS pk, o_orderstatus AS st FROM orders " +
          s"WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE @W0@) " +
          s"AND (@W1@) ORDER BY pk NULLS FIRST", wi, wo)
        Case(name, c.f, c.d)
      case 1 =>
        val wi = pred(r, "orders", "o")
        val c = fill(s"SELECT c_custkey AS pk, c_mktsegment AS seg FROM customer c " +
          s"WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
          s"AND (@W0@)) ORDER BY pk NULLS FIRST LIMIT ${50 + r.nextInt(100)}", wi)
        Case(name, c.f, c.d)
      case _ =>
        val sql = s"SELECT n_nationkey AS pk, n_name FROM nation " +
          s"WHERE n_nationkey <= (SELECT MAX(c_nationkey) % ${3 + r.nextInt(20)} FROM customer) " +
          s"ORDER BY pk NULLS FIRST"
        Case(name, sql, sql)
    }
  }

  /** Shape 6: OVER windows — ranking / lag / framed decimal-pinned sum.
    * Window ORDER BY ends in the table's unique expression so every
    * ranking/navigation value is deterministic. */
  private def genOver(r: Random, name: String): Case = {
    // only tables whose key column is genuinely unique in the fixtures —
    // the synthetic lineitem has duplicate (l_orderkey, l_linenumber)
    // pairs, which makes every ranking/navigation value tie-dependent
    val t = pick(r, Seq("orders", "customer", "events", "documents"))
    val uk = uniqExpr(t)
    val part = pick(r, strCols(t))
    val over = s"PARTITION BY $part ORDER BY $uk"
    val wexpr: Frag = r.nextInt(5) match {
      case 0 => same(s"ROW_NUMBER() OVER ($over)")
      case 1 => same(s"RANK() OVER (PARTITION BY $part ORDER BY ${pick(r, intCols(t))} % ${2 + r.nextInt(7)}, $uk)")
      case 2 => same(s"LAG(${pick(r, intCols(t))}, ${1 + r.nextInt(2)}) OVER ($over)")
      case 3 => same(s"LEAD(${pick(r, strCols(t))}) OVER ($over)")
      case _ =>
        val d = dblCols(t)
        val frame = s"ROWS BETWEEN ${1 + r.nextInt(5)} PRECEDING AND CURRENT ROW"
        if (d.isEmpty) {
          val c = pick(r, intCols(t))
          Frag(s"SUM($c) OVER ($over $frame)",
            s"CAST(SUM($c) OVER ($over $frame) AS BIGINT)")
        } else same(s"CAST(SUM(CAST(${pick(r, d)} AS DECIMAL(18,4))) OVER ($over $frame) AS DOUBLE)")
    }
    val w = pred(r, t)
    val c = fill(s"SELECT $uk AS pk, $part AS p0, @WX@ AS wv FROM $t WHERE @W0@ " +
      s"ORDER BY pk NULLS FIRST", w)
    Case(name, c.f.replace("@WX@", wexpr.f), c.d.replace("@WX@", wexpr.d))
  }

  /** Shape 7: dialect-divergent constructs — paired emission.
    * Flink: 1-based split subscript, TUMBLE TVF, backticked idents;
    * Duck: list index / time_bucket / bare idents (the q_flink_* gates'
    * pairing patterns). */
  private def genDialect(r: Random, name: String): Case = {
    r.nextInt(3) match {
      case 0 =>
        val i = 1 + r.nextInt(4)
        val w = pred(r, "documents")
        val f = s"SELECT doc_id AS pk, split(text, ' ')[$i] AS w FROM documents " +
          s"WHERE ${w.f} ORDER BY pk NULLS FIRST"
        val d = s"SELECT doc_id AS pk, str_split(text, ' ')[$i] AS w FROM documents " +
          s"WHERE ${w.d} ORDER BY pk NULLS FIRST"
        Case(name, f, d)
      case 1 =>
        val mins = pick(r, Seq(5, 10, 15, 30))
        val f = s"SELECT window_start, window_end, COUNT(*) AS cnt, ${dsum("value")} AS sv " +
          s"FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '$mins' MINUTES)) " +
          s"GROUP BY window_start, window_end ORDER BY window_start NULLS FIRST"
        val d = s"SELECT time_bucket(INTERVAL '$mins minutes', CAST(ts AS TIMESTAMP)) AS window_start, " +
          s"time_bucket(INTERVAL '$mins minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '$mins minutes' AS window_end, " +
          s"COUNT(*) AS cnt, ${dsum("value")} AS sv FROM events GROUP BY 1, 2 ORDER BY window_start NULLS FIRST"
        Case(name, f, d)
      case _ =>
        val f = s"SELECT o_orderkey AS pk, `o_orderstatus` AS st, o_totalprice AS tp FROM orders " +
          s"WHERE o_orderkey % ${2 + r.nextInt(8)} = 0 AND o_totalprice > ${(1 + r.nextInt(3)) * 1000} " +
          s"ORDER BY pk NULLS FIRST"
        Case(name, f, f.replace("`", ""))
    }
  }

  /** Shape 8: GROUPING SETS / ROLLUP / CUBE over two keys. */
  private def genGroupingSets(r: Random, name: String): Case = {
    val t = pick(r, Seq("orders", "lineitem", "customer", "documents"))
    val k1 = pick(r, strCols(t))
    val k2 = s"${pick(r, intCols(t))} % ${2 + r.nextInt(4)}"
    val grp = r.nextInt(3) match {
      case 0 => s"GROUPING SETS (($k1), ($k1, $k2), ())"
      case 1 => s"ROLLUP ($k1, $k2)"
      case _ => s"CUBE ($k1, $k2)"
    }
    val w = pred(r, t)
    // the OR-MIN arm guarantees ≥1 input row: on EMPTY input Spark returns
    // 0 rows for the global () grouping set where the SQL standard (and
    // DuckDB/Postgres) return one all-NULL row with cnt=0 — a documented
    // Spark divergence (pinned in FuncsSpec), not a dialect bug to chase
    val pk = pkCol(t)
    val c = fill(s"SELECT $k1 AS k1, $k2 AS k2, COUNT(*) AS cnt FROM $t " +
      s"WHERE (@W0@) OR $pk = (SELECT MIN($pk) FROM $t) " +
      s"GROUP BY $grp ORDER BY k1 NULLS FIRST, k2 NULLS FIRST, cnt NULLS FIRST", w)
    Case(name, c.f, c.d)
  }

  /** Shape 9: datetime — EXTRACT / date_trunc / INTERVAL arithmetic over
    * events.ts (TIMESTAMP_NTZ in Spark, naive TIMESTAMP in DuckDB). */
  private def genDatetime(r: Random, name: String): Case = {
    val part = pick(r, Seq("YEAR", "MONTH", "DAY", "HOUR", "MINUTE"))
    val unit = pick(r, Seq("day", "hour", "minute"))
    val n = 1 + r.nextInt(12)
    val iu = pick(r, Seq("HOUR", "MINUTE", "DAY"))
    val w = pred(r, "events")
    val c = fill(s"SELECT event_id AS pk, EXTRACT($part FROM ts) AS ep, " +
      s"date_trunc('$unit', ts) AS dt, ts + INTERVAL '$n' $iu AS shifted " +
      s"FROM events WHERE @W0@ ORDER BY pk NULLS FIRST", w)
    Case(name, c.f, c.d)
  }

  /** Shape 10: conditional aggregation — SUM/COUNT/MAX over CASE. */
  private def genCondAgg(r: Random, name: String): Case = {
    val t = pick(r, Seq("orders", "lineitem", "customer", "events"))
    val k = pick(r, strCols(t))
    val p = pred(r, t); val w = pred(r, t)
    val c = fill(s"SELECT $k AS k0, " +
      s"CAST(SUM(CASE WHEN @W0@ THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
      s"COUNT(CASE WHEN @W0@ THEN 1 END) AS hits2, " +
      s"MAX(CASE WHEN @W0@ THEN ${pick(r, strCols(t))} END) AS mx " +
      s"FROM $t WHERE @W1@ GROUP BY $k ORDER BY k0 NULLS FIRST", p, w)
    Case(name, c.f, c.d)
  }

  /** Shape 11: DISTINCT projection. */
  private def genDistinct(r: Random, name: String): Case = {
    val t = pick(r, tables)
    val cols = Seq(s"${pick(r, strCols(t))} AS a0",
      s"${pick(r, intCols(t))} % ${2 + r.nextInt(6)} AS a1")
    val w = pred(r, t)
    val c = fill(s"SELECT DISTINCT ${cols.mkString(", ")} FROM $t WHERE @W0@ " +
      s"ORDER BY a0 NULLS FIRST, a1 NULLS FIRST", w)
    Case(name, c.f, c.d)
  }

  /** Shape 12: correlated scalar subquery in the SELECT list. */
  private def genCorrScalar(r: Random, name: String): Case = {
    val w = pred(r, "customer", "c")
    val c = fill(s"SELECT n_nationkey AS pk, n_name, " +
      s"(SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n_nationkey AND (@W0@)) AS n_cust " +
      s"FROM nation ORDER BY pk NULLS FIRST", w)
    Case(name, c.f, c.d)
  }

  /** Shape 13: string functions — REPLACE/REVERSE/LPAD/RPAD/REPEAT/TRY_CAST,
    * and REGEXP_REPLACE (Spark replaces ALL matches; DuckDB needs the 'g'
    * flag for the same semantics). */
  private def genStrFuncs(r: Random, name: String): Case = {
    val t = pick(r, tables)
    val sc = pick(r, strCols(t))
    val pk = pkCol(t)
    val e: Frag = r.nextInt(6) match {
      case 0 => same(s"REPLACE($sc, '${('a' + r.nextInt(26)).toChar}', '#')")
      case 1 => same(s"REVERSE($sc)")
      case 2 => same(s"LPAD($sc, ${5 + r.nextInt(10)}, '.')")
      case 3 => same(s"RPAD($sc, ${5 + r.nextInt(10)}, '-')")
      case 4 => Frag(s"REGEXP_REPLACE($sc, '[aeiou]', '_')",
        s"regexp_replace($sc, '[aeiou]', '_', 'g')")
      case _ => same(s"TRY_CAST(SUBSTRING($sc, 1, 1) AS INT)")
    }
    val w = pred(r, t)
    val c = fill(s"SELECT $pk AS pk, $sc AS s0, @E@ AS e0 FROM $t WHERE @W0@ " +
      s"ORDER BY pk NULLS FIRST, s0 NULLS FIRST, e0 NULLS FIRST", w)
    Case(name, c.f.replace("@E@", e.f), c.d.replace("@E@", e.d))
  }

  /** Shape 14: randomized window-TVF parameters — HOP (slide, size=m·slide)
    * and CUMULATE (step, size=m·step) through the full dialect TVF rewrite
    * into the Windows operators, against the parameterized DuckDB oracles
    * (the q_hop_agg / q_cumulate_agg pairing patterns at random params). */
  private def genWindowTVF(r: Random, name: String): Case = {
    val base = pick(r, Seq(2, 3, 4, 5, 6, 10, 12, 15, 20)) // minutes
    val m = 2 + r.nextInt(3)                               // size multiplier
    val size = base * m
    val key = if (r.nextBoolean()) Some("event_type") else None
    val kSel = key.map(k => s"$k, ").getOrElse("")
    val kGrp = key.map(k => s", $k").getOrElse("")
    val kOrd = key.map(k => s", $k NULLS FIRST").getOrElse("")
    val w = pred(r, "events")
    r.nextInt(3) match {
      case 2 =>
        // SESSION: gap-merged per-user windows. The predicate must commute
        // with sessionization (the TVF assigns windows before WHERE; the
        // rewritten session_window groups after), so filter only WHOLE
        // partitions — a user_id predicate removes or keeps every row of a
        // user together and both orders agree.
        val g = pick(r, Seq(5, 10, 15, 20, 30, 45, 60))
        val up = r.nextInt(3) match {
          case 0 => s"user_id % ${2 + r.nextInt(5)} = ${r.nextInt(2)}"
          case 1 => s"user_id > ${r.nextInt(500)}"
          case _ => s"user_id BETWEEN ${r.nextInt(200)} AND ${300 + r.nextInt(700)}"
        }
        val f =
          s"SELECT window_start, window_end, user_id, COUNT(*) AS cnt, ${dsum("value")} AS sv " +
            s"FROM TABLE(SESSION(TABLE events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '$g' MINUTES)) " +
            s"WHERE $up GROUP BY window_start, window_end, user_id " +
            s"ORDER BY user_id NULLS FIRST, window_start NULLS FIRST"
        val duck =
          s"WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, " +
            s"CASE WHEN CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) " +
            s"OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '$g minutes' " +
            s"OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
            s"THEN 1 ELSE 0 END AS new_session FROM events WHERE $up), " +
            s"y AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts " +
            s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x) " +
            s"SELECT MIN(ts) AS window_start, MAX(ts) + INTERVAL '$g minutes' AS window_end, " +
            s"user_id, COUNT(*) AS cnt, ${dsum("value")} AS sv " +
            s"FROM y GROUP BY user_id, sid " +
            s"ORDER BY user_id NULLS FIRST, window_start NULLS FIRST"
        return Case(name, f, duck)
      case _ => ()
    }
    if (r.nextBoolean()) {
      // HOP: each event lands in m windows, starts at bucket(ts,slide)-k·slide
      val c = fill(
        s"SELECT window_start, window_end, ${kSel}COUNT(*) AS cnt, ${dsum("value")} AS sv " +
          s"FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '$base' MINUTES, INTERVAL '$size' MINUTES)) " +
          s"WHERE @W0@ GROUP BY window_start, window_end$kGrp " +
          s"ORDER BY window_start NULLS FIRST$kOrd", w)
      val duck =
        s"WITH h AS (SELECT time_bucket(INTERVAL '$base minutes', CAST(ts AS TIMESTAMP)) " +
          s"- (k * INTERVAL '$base minutes') AS window_start, ${kSel}value " +
          s"FROM events, (SELECT UNNEST(generate_series(0, ${m - 1})) AS k) WHERE @W0@) " +
          s"SELECT window_start, window_start + INTERVAL '$size minutes' AS window_end, " +
          s"${kSel}COUNT(*) AS cnt, ${dsum("value")} AS sv " +
          s"FROM h GROUP BY window_start$kGrp ORDER BY window_start NULLS FIRST$kOrd"
      Case(name, c.f, duck.replace("@W0@", w.d))
    } else {
      // CUMULATE: expanding windows of step·{1..m} within each size bucket
      val stepSec = base * 60; val sizeSec = size * 60
      val c = fill(
        s"SELECT window_start, window_end, ${kSel}COUNT(*) AS cnt, ${dsum("value")} AS sv " +
          s"FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '$base' MINUTES, INTERVAL '$size' MINUTES)) " +
          s"WHERE @W0@ GROUP BY window_start, window_end$kGrp " +
          s"ORDER BY window_start NULLS FIRST, window_end NULLS FIRST$kOrd", w)
      val duck =
        s"WITH c AS (SELECT time_bucket(INTERVAL '$size minutes', CAST(ts AS TIMESTAMP)) AS window_start, " +
          s"${kSel}value, UNNEST(generate_series(" +
          s"((epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(time_bucket(INTERVAL '$size minutes', CAST(ts AS TIMESTAMP)))) // 1000000 // $stepSec + 1) * $stepSec, " +
          s"$sizeSec, $stepSec)) AS end_sec FROM events WHERE @W0@) " +
          s"SELECT window_start, window_start + end_sec * INTERVAL '1 second' AS window_end, " +
          s"${kSel}COUNT(*) AS cnt, ${dsum("value")} AS sv " +
          s"FROM c GROUP BY window_start, window_end$kGrp " +
          s"ORDER BY window_start NULLS FIRST, window_end NULLS FIRST$kOrd"
      Case(name, c.f, duck.replace("@W0@", w.d))
    }
  }

  /** Shape 15: interval self-join on events — identical text both engines
    * (BETWEEN range predicate on a co-keyed self-join). */
  private def genIntervalJoin(r: Random, name: String): Case = {
    val mins = 1 + r.nextInt(10)
    val w = pred(r, "events", "a")
    val c = fill(s"SELECT a.event_id AS ida, b.event_id AS idb FROM events a " +
      s"JOIN events b ON a.user_id = b.user_id AND a.event_id <> b.event_id " +
      s"AND b.ts BETWEEN a.ts AND a.ts + INTERVAL '$mins' MINUTE " +
      s"WHERE @W0@ ORDER BY ida NULLS FIRST, idb NULLS FIRST", w)
    Case(name, c.f, c.d)
  }

  /** Shape 16: LATERAL UNNEST of a split — Flink's CROSS JOIN UNNEST with a
    * column alias vs DuckDB's UNNEST-in-SELECT. */
  private def genUnnest(r: Random, name: String): Case = {
    val w = pred(r, "documents")
    val lim = 1 + r.nextInt(200)
    val f = s"WITH d AS (SELECT doc_id, split(text, ' ') AS toks FROM documents WHERE ${w.f}) " +
      s"SELECT doc_id AS pk, tok FROM d CROSS JOIN UNNEST(toks) AS t(tok) " +
      s"ORDER BY pk NULLS FIRST, tok NULLS FIRST LIMIT $lim"
    val d = s"WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents WHERE ${w.d}) " +
      s"SELECT doc_id AS pk, UNNEST(toks) AS tok FROM d " +
      s"ORDER BY pk NULLS FIRST, tok NULLS FIRST LIMIT $lim"
    Case(name, f, d)
  }

  /** Shape 17: the OVER-frame parameter space — ROWS/RANGE frames with
    * random PRECEDING/FOLLOWING/UNBOUNDED bounds under FIRST/LAST/NTH_VALUE
    * and frame aggregates. genOver spot-checks one ROWS shape; this sweeps
    * the bound combinations. Determinism pins: ORDER BY the table's unique
    * key (ROWS frame content is then deterministic); RANGE frames order by
    * a possibly-tied int column but only under MIN/MAX/COUNT (peer-set
    * insensitive); double SUM/AVG goes through DECIMAL. */
  private def genFrames(r: Random, name: String): Case = {
    val t = pick(r, Seq("orders", "customer", "events", "part"))
    val uk = uniqExpr(t)
    val part = pick(r, strCols(t))
    def rowsBounds: String = {
      val lo = r.nextInt(3) match {
        case 0 => "UNBOUNDED PRECEDING"
        case 1 => s"${1 + r.nextInt(8)} PRECEDING"
        case _ => "CURRENT ROW"
      }
      val hi =
        if (lo == "CURRENT ROW") s"${1 + r.nextInt(8)} FOLLOWING"
        else r.nextInt(3) match {
          case 0 => "CURRENT ROW"
          case 1 => s"${1 + r.nextInt(8)} FOLLOWING"
          case _ => "UNBOUNDED FOLLOWING"
        }
      s"ROWS BETWEEN $lo AND $hi"
    }
    val wexpr: Frag = r.nextInt(5) match {
      case 0 =>
        same(s"FIRST_VALUE($part) OVER (PARTITION BY $part ORDER BY $uk $rowsBounds)")
      case 1 =>
        same(s"LAST_VALUE(${pick(r, intCols(t))}) OVER (PARTITION BY $part ORDER BY $uk $rowsBounds)")
      case 2 =>
        same(s"NTH_VALUE(${pick(r, intCols(t))}, ${1 + r.nextInt(4)}) " +
          s"OVER (PARTITION BY $part ORDER BY $uk $rowsBounds)")
      case 3 =>
        // RANGE over a tied int order key: peer-insensitive aggs only
        val ord = pick(r, intCols(t))
        val fn = pick(r, Seq("MIN", "MAX", "COUNT"))
        val arg = pick(r, intCols(t))
        val k = 10 + r.nextInt(1000)
        Frag(s"$fn($arg) OVER (PARTITION BY $part ORDER BY $ord " +
             s"RANGE BETWEEN $k PRECEDING AND CURRENT ROW)",
          s"CAST($fn($arg) OVER (PARTITION BY $part ORDER BY $ord " +
             s"RANGE BETWEEN $k PRECEDING AND CURRENT ROW) AS BIGINT)")
      case _ =>
        val ds = dblCols(t)
        val frame = rowsBounds
        if (ds.isEmpty)
          Frag(s"SUM(${pick(r, intCols(t))}) OVER (PARTITION BY $part ORDER BY $uk $frame)",
            s"CAST(SUM(${pick(r, intCols(t))}) OVER (PARTITION BY $part ORDER BY $uk $frame) AS BIGINT)")
        else same(s"CAST(SUM(CAST(${pick(r, ds)} AS DECIMAL(18,4))) " +
          s"OVER (PARTITION BY $part ORDER BY $uk $frame) AS DOUBLE)")
    }
    val w = pred(r, t)
    val c = fill(s"SELECT $uk AS pk, @WX@ AS wv FROM $t WHERE @W0@ " +
      s"ORDER BY pk NULLS FIRST", w)
    Case(name, c.f.replace("@WX@", wexpr.f), c.d.replace("@WX@", wexpr.d))
  }

  /** Shape 18: Flink's canonical Top-N — ROW_NUMBER in a derived table,
    * rn <= n outside (reference snippet family). Unique-key tie-break makes
    * the cut deterministic; final ORDER BY (partition, rn) is total. */
  private def genTopN(r: Random, name: String): Case = {
    val t = pick(r, Seq("orders", "customer", "events", "part", "documents"))
    val uk = uniqExpr(t)
    val part = pick(r, strCols(t))
    val ds = dblCols(t)
    val v = if (ds.nonEmpty) pick(r, ds) else pick(r, intCols(t))
    val dir = if (r.nextBoolean()) "DESC" else "ASC"
    val n = 1 + r.nextInt(6)
    val w = pred(r, t)
    val c = fill(
      s"SELECT p0, pk, rn FROM (SELECT $part AS p0, $uk AS pk, " +
        s"ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $v $dir, $uk) AS rn " +
        s"FROM $t WHERE @W0@) WHERE rn <= $n " +
        s"ORDER BY p0 NULLS FIRST, rn", w)
    // DuckDB requires a derived-table alias; Spark/Flink accept it too, but
    // keep the Flink side alias-free to exercise the dialect's tolerance
    Case(name, c.f, c.d.replace(s"WHERE rn <= $n", s"sub WHERE rn <= $n"))
  }

  /** Shape 19: temporal as-of join — Flink's `FOR SYSTEM_TIME AS OF p.ts`
    * through the gateway's AsOfJoin.sql route vs DuckDB's native ASOF LEFT
    * JOIN (an independent engine's as-of implementation, beyond the hand
    * SQL oracle the q_join_asof gates use). The right side is grouped to
    * one row per (key, version-ts) so there is no tie ambiguity; both
    * sides pin the inclusive `vts <= p.ts` match the operator implements
    * (right row sorts before left at equal ts). Left-side WHERE and the
    * randomized event-type split exercise the rewrite's alias
    * substitution and tail preservation. */
  private def genAsOf(r: Random, name: String): Case = {
    val types = Seq("click", "view", "purchase", "scroll", "login")
    val lt = pick(r, types)
    val rt = pick(r, types.filterNot(_ == lt))
    val lv = s"asof_l_$name"; val rv = s"asof_r_$name"
    val wp = r.nextInt(3) match {
      case 0 => s"p.value > ${r.nextInt(50)}.5"
      case 1 => s"p.event_id % ${2 + r.nextInt(5)} = ${r.nextInt(2)}"
      case _ => s"p.user_id BETWEEN ${r.nextInt(300)} AND ${400 + r.nextInt(600)}"
    }
    val prep = Seq(
      s"CREATE OR REPLACE TEMPORARY VIEW $lv AS SELECT user_id, event_id, value, " +
        s"CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = '$lt'",
      s"CREATE OR REPLACE TEMPORARY VIEW $rv AS SELECT user_id, " +
        s"CAST(ts AS TIMESTAMP) AS vts, MAX(event_id) AS ref_id " +
        s"FROM events WHERE event_type = '$rt' GROUP BY user_id, CAST(ts AS TIMESTAMP)")
    val f =
      s"SELECT p.user_id AS uid, p.event_id AS pid, s.ref_id AS rid " +
        s"FROM $lv AS p LEFT JOIN $rv FOR SYSTEM_TIME AS OF p.ts AS s " +
        s"ON p.user_id = s.user_id WHERE $wp ORDER BY pid NULLS FIRST"
    val duck =
      s"WITH l AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts " +
        s"FROM events WHERE event_type = '$lt'), " +
        s"r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts, MAX(event_id) AS ref_id " +
        s"FROM events WHERE event_type = '$rt' GROUP BY user_id, CAST(ts AS TIMESTAMP)) " +
        s"SELECT p.user_id AS uid, p.event_id AS pid, s.ref_id AS rid " +
        s"FROM l p ASOF LEFT JOIN r s ON p.user_id = s.user_id AND p.ts >= s.vts " +
        s"WHERE $wp ORDER BY pid NULLS FIRST"
    Case(name, f, duck, prep)
  }

  /** Shape 20: ordered string aggregation — ANSI LISTAGG ... WITHIN GROUP
    * (Spark 4) vs DuckDB's STRING_AGG(x, sep ORDER BY x). The explicit
    * within-group ordering is the determinism pin (Flink's own LISTAGG is
    * unordered); equal elements concatenate identically under any tie
    * order, and both engines skip NULLs. */
  private def genListAgg(r: Random, name: String): Case = {
    val t = pick(r, Seq("orders", "customer", "part", "supplier", "events", "documents"))
    val g = pick(r, strCols(t))
    val c = pick(r, (strCols(t) :+ pkCol(t)).distinct)
    val sep = pick(r, Seq(",", "|", ";"))
    val w = pred(r, t)
    val cc = if (c == pkCol(t)) s"CAST($c AS VARCHAR)" else c
    val cas = fill(
      s"SELECT $g AS p0, @WX@ AS agg_s, COUNT(*) AS cnt FROM $t " +
        s"WHERE @W0@ GROUP BY $g ORDER BY p0 NULLS FIRST", w)
    Case(name,
      cas.f.replace("@WX@", s"LISTAGG($cc, '$sep') WITHIN GROUP (ORDER BY $cc)"),
      cas.d.replace("@WX@", s"STRING_AGG($cc, '$sep' ORDER BY $cc)"))
  }

  /** Shape 21 (r13, verdict item 3): GROUPING SETS / ROLLUP / CUBE composed
    * with OVER windows — the super-aggregate rows flow through ranking and
    * running-sum windows. Determinism: within a k1 partition the k2 values
    * are distinct across grouping-set rows (k2 is never NULL in the data,
    * so the subtotal row's NULL k2 cannot collide), and the global rank
    * orders by (cnt, k1, k2) where (k1, k2) is unique across all rows.
    * NULLS FIRST is written explicitly inside every OVER (Spark's ASC
    * default; DuckDB defaults NULLS LAST). */
  private def genGroupingSetsOver(r: Random, name: String): Case = {
    val t = pick(r, Seq("orders", "lineitem", "customer", "documents"))
    val k1 = pick(r, strCols(t))
    val k2 = s"${pick(r, intCols(t))} % ${2 + r.nextInt(4)}"
    val grp = r.nextInt(3) match {
      case 0 => s"GROUPING SETS (($k1), ($k1, $k2), ())"
      case 1 => s"ROLLUP ($k1, $k2)"
      case _ => s"CUBE ($k1, $k2)"
    }
    val w = pred(r, t)
    val pk = pkCol(t)
    val winOrd = "k2 NULLS FIRST"
    val wexpr: Frag = r.nextInt(3) match {
      case 0 =>
        // running sum of BIGINT counts: DuckDB widens SUM(BIGINT) to
        // HUGEINT, so pin the result type on the oracle side
        Frag(s"SUM(cnt) OVER (PARTITION BY k1 ORDER BY $winOrd " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
          s"CAST(SUM(cnt) OVER (PARTITION BY k1 ORDER BY $winOrd " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)")
      case 1 => same(s"ROW_NUMBER() OVER (PARTITION BY k1 ORDER BY $winOrd)")
      case _ => same("RANK() OVER (ORDER BY cnt DESC, k1 NULLS FIRST, k2 NULLS FIRST)")
    }
    // ≥1 input row guaranteed (OR-MIN arm): Spark's documented divergence
    // drops the global () row over EMPTY input — same guard as shape 8
    val c = fill(s"SELECT k1, k2, cnt, @WX@ AS wv FROM (" +
      s"SELECT $k1 AS k1, $k2 AS k2, COUNT(*) AS cnt FROM $t " +
      s"WHERE (@W0@) OR $pk = (SELECT MIN($pk) FROM $t) GROUP BY $grp) " +
      s"ORDER BY k1 NULLS FIRST, k2 NULLS FIRST, cnt NULLS FIRST", w)
    Case(name, c.f.replace("@WX@", wexpr.f), c.d.replace("@WX@", wexpr.d))
  }

  /** Shape 22 (r13, verdict item 3): Flink window join — two TVF-windowed
    * aggregates equi-joined on (window_start, window_end, key). DuckDB
    * pairs with time_bucket aggregates. Outer variants exercise the NULL
    * sides; ORDER BY covers every output column. */
  private def genWindowJoin(r: Random, name: String): Case = {
    val mins = pick(r, Seq(5, 10, 15, 20, 30, 60))
    val types = Seq("click", "view", "purchase", "scroll", "login")
    val lt = pick(r, types)
    val rt = pick(r, types.filterNot(_ == lt))
    val join = pick(r, Seq("JOIN", "LEFT JOIN", "FULL JOIN"))
    val lw = s"user_id % ${2 + r.nextInt(5)} = ${r.nextInt(2)}"
    def fSide(et: String, p: String) =
      s"(SELECT window_start, window_end, user_id, COUNT(*) AS cnt, ${dsum("value")} AS sv " +
        s"FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '$mins' MINUTES)) " +
        s"WHERE event_type = '$et' AND $p GROUP BY window_start, window_end, user_id)"
    def dSide(et: String, p: String) =
      s"(SELECT time_bucket(INTERVAL '$mins minutes', CAST(ts AS TIMESTAMP)) AS window_start, " +
        s"time_bucket(INTERVAL '$mins minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '$mins minutes' AS window_end, " +
        s"user_id, COUNT(*) AS cnt, ${dsum("value")} AS sv FROM events " +
        s"WHERE event_type = '$et' AND $p GROUP BY 1, 2, 3)"
    val on = "L.window_start = R.window_start AND L.window_end = R.window_end AND L.user_id = R.user_id"
    val sel = "L.window_start AS lws, L.user_id AS luid, L.cnt AS lcnt, L.sv AS lsv, " +
      "R.window_start AS rws, R.user_id AS ruid, R.cnt AS rcnt, R.sv AS rsv"
    val ord = "ORDER BY lws NULLS FIRST, luid NULLS FIRST, rws NULLS FIRST, ruid NULLS FIRST, " +
      "lcnt NULLS FIRST, rcnt NULLS FIRST, lsv NULLS FIRST, rsv NULLS FIRST"
    Case(name,
      s"SELECT $sel FROM ${fSide(lt, lw)} L $join ${fSide(rt, lw)} R ON $on $ord",
      s"SELECT $sel FROM ${dSide(lt, lw)} L $join ${dSide(rt, lw)} R ON $on $ord")
  }

  /** Shape 23 (r13, verdict item 4): a second ENGINE on the CEP kernel.
    * MATCH_RECOGNIZE with complementary row-local DEFINEs (A: value below
    * the threshold, B: at-or-above) compiles to exact gaps-and-islands /
    * lag SQL that DuckDB can run — the corpus's own simple-pattern shapes
    * (reference test/syntax-test.fsql:467-482):
    *  - PATTERN (A+ B), SKIP PAST LAST ROW: greedy A+ over complementary
    *    classes consumes each maximal A-run; a match exists iff the row
    *    after the run is a B (mid-run restarts provably fail too), so the
    *    oracle is islands-of-A joined to their next row when it's a B.
    *  - PATTERN (A B): matches are exactly the A→B adjacencies (two
    *    adjacencies cannot share a row, so SKIP PAST LAST ROW never skips
    *    a candidate), i.e. rows where cls='B' AND lag(cls)='A'.
    * Row order in MATCH_RECOGNIZE is event_id (unique), so classification
    * is total; the runner sorts the output by column name, mirrored by the
    * oracle's ORDER BY. */
  private def genCep(r: Random, name: String): Case = {
    val x = 30 + r.nextInt(380)              // threshold inside value range
    val up = s"user_id % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"  // whole-partition filter
    val prep = Seq("CREATE OR REPLACE TEMPORARY VIEW cep_fuzz AS " +
      s"SELECT * FROM events WHERE $up")
    val plus = r.nextBoolean()
    val pattern = if (plus) "A+ B" else "A B"
    val flink =
      s"""SELECT * FROM cep_fuzz MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY event_id
         |  MEASURES FIRST(A.event_id) AS a_start,
         |           COUNT(A.*) AS n_a,
         |           MAX(A.value) AS a_max,
         |           LAST(B.value) AS b_val
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN ($pattern)
         |  DEFINE A AS A.value < $x,
         |         B AS B.value >= $x
         |)""".stripMargin
    val ord = "ORDER BY a_max NULLS FIRST, a_start NULLS FIRST, b_val NULLS FIRST, " +
      "n_a NULLS FIRST, user_id NULLS FIRST"
    val duck = if (plus)
      s"""WITH ord AS (
         |  SELECT user_id, event_id, value,
         |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         |         CASE WHEN value < $x THEN 'A' ELSE 'B' END AS cls
         |  FROM events WHERE $up),
         |runs AS (
         |  SELECT user_id, grp, MIN(event_id) AS a_start, COUNT(*) AS n_a,
         |         MAX(value) AS a_max, MAX(rn) AS a_last_rn
         |  FROM (SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
         |        FROM ord WHERE cls = 'A')
         |  GROUP BY user_id, grp)
         |SELECT * FROM (
         |  SELECT r.a_max, r.a_start, o.value AS b_val, r.n_a, r.user_id
         |  FROM runs r JOIN ord o ON o.user_id = r.user_id AND o.rn = r.a_last_rn + 1
         |  WHERE o.cls = 'B') $ord""".stripMargin
    else
      s"""WITH ord AS (
         |  SELECT user_id, event_id, value,
         |         LAG(event_id) OVER w AS p_event, LAG(value) OVER w AS p_value,
         |         LAG(CASE WHEN value < $x THEN 'A' ELSE 'B' END) OVER w AS p_cls,
         |         CASE WHEN value < $x THEN 'A' ELSE 'B' END AS cls
         |  FROM events WHERE $up
         |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
         |SELECT p_value AS a_max, p_event AS a_start, value AS b_val,
         |       CAST(1 AS BIGINT) AS n_a, user_id
         |FROM ord WHERE cls = 'B' AND p_cls = 'A' $ord""".stripMargin
    Case(name, flink, duck, prep)
  }

  def gen(seed: Long, count: Int, shapes: Seq[Int] = 0 until 23): Seq[Case] = {
    val r = new Random(seed)
    (0 until count).map { i =>
      val name = f"fz_$i%04d"
      shapes(r.nextInt(shapes.length)) match {
        case 0 => genProjFilter(r, name)
        case 1 => genAgg(r, name)
        case 2 => genJoin(r, name)
        case 3 => genSetOp(r, name)
        case 4 => genSubq(r, name)
        case 5 => genOver(r, name)
        case 6 => genDialect(r, name)
        case 7 => genGroupingSets(r, name)
        case 8 => genDatetime(r, name)
        case 9 => genCondAgg(r, name)
        case 10 => genDistinct(r, name)
        case 11 => genCorrScalar(r, name)
        case 12 => genStrFuncs(r, name)
        case 13 => genWindowTVF(r, name)
        case 14 => genIntervalJoin(r, name)
        case 15 => genUnnest(r, name)
        case 16 => genFrames(r, name)
        case 17 => genTopN(r, name)
        case 18 => genAsOf(r, name)
        case 19 => genListAgg(r, name)
        case 20 => genGroupingSetsOver(r, name)
        case 21 => genWindowJoin(r, name)
        case _ => genCep(r, name)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, seedS, countS) = args.take(4)
    val spark = graft.engine.GraftSession.create(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // optional 5th arg: comma-separated shape indices to restrict the draw
    // (a targeted campaign on a new shape, e.g. "20,21,22")
    val shapes = args.lift(4).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(0 until 23)
    val cases = gen(seedS.toLong, countS.toInt, shapes)
    var failed = 0
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(deleteRec(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    cases.foreach { c =>
      // drop any previous run's output under this case name FIRST: a case
      // that fails on the Spark side must leave NO parquet behind, or the
      // comparator grades stale results from an earlier run of the same
      // outDir as this run's output (r13 advisor find)
      deleteRec(java.nio.file.Paths.get(s"$outDir/${c.name}"))
      try {
        c.prep.foreach(spark.sql(_))
        // gateway routing order: the temporal as-of route claims its SQL
        // before the dialect (which would strip AS OF to snapshot
        // semantics), MATCH_RECOGNIZE compiles through the CEP operator —
        // same dispatch as Gateway.executeStatement
        val df =
          if (graft.operators.AsOfJoin.isTemporalSql(c.flink))
            graft.operators.AsOfJoin.sql(spark, c.flink)
              .getOrElse(sys.error("temporal as-of route did not match"))
          else if (graft.operators.MatchRecognize.isMatchRecognize(c.flink)) {
            // the MR form carries no trailing ORDER BY; sort by column name
            // (the oracle SQL mirrors this exact order)
            val mr = graft.operators.MatchRecognize.sql(spark, c.flink)
            mr.orderBy(mr.columns.sorted.map(org.apache.spark.sql.functions.col(_).asc_nulls_first): _*)
          }
          else graft.engine.FlinkDialect.sql(spark, c.flink)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[sqlfuzz] ${c.name} FAILED on spark side: ${e.getMessage}")
        System.err.println(s"[sqlfuzz]   flink sql: ${c.flink}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json = cases.map(c => s"${q(c.name)}: ${q(c.duck)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the generated FLINK text too, for debugging failures
    val fjson = cases.map(c => s"${q(c.name)}: ${q(c.flink)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/flink_sql.json"), fjson)
    println(s"[sqlfuzz] ${cases.length} generated, $failed spark-side failures")
    spark.stop()
    // a spark-side failure IS a finding — surface it in the exit code so a
    // scripted campaign can't silently record a green round (r13 advisor)
    if (failed > 0) sys.exit(1)
  }
}
