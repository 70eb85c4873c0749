package graft

import scala.collection.mutable
import scala.util.Random
import graft.engine.{Gateway, TableEnv}

/** Model-based fuzz of the batch DML surface (r12): random INSERT INTO /
  * INSERT with column list / INSERT OVERWRITE / UPDATE / DELETE / MERGE
  * against a filesystem binding, differential against an in-memory
  * reference model of the table's rows. After EVERY op the full table
  * contents are compared as a sorted multiset — the atomic
  * directory-swap rewrite (TableEnv.swapRewrite), relation-cache
  * refreshes, the column-list NULL-fill alignment, and MERGE's
  * first-match-wins clause chain all sit on this path, and a stale cache
  * or misaligned write shows up as a row diff immediately.
  *
  * Runs three ways: a plain parquet binding, a DISTRIBUTED BY bucketed
  * one (the bucketed DML path rewrites through the saved catalog table
  * and must preserve the zero-shuffle contract — EngineSpec pins the
  * plan shape; this spec pins the DATA under sustained mutation), and a
  * jdbc binding on embedded Derby (UPDATE/DELETE push the statement down
  * to the database — a different execution path entirely; MERGE is
  * documented-unsupported there and the fuzz redistributes that op).
  */
class DmlFuzzSpec extends SparkTestBase {

  private case class R(id: Long, v: Long, tag: String)

  for (variant <- Seq("plain", "bucketed", "jdbc", "partitioned"))
  test(s"model fuzz: 40 random DML ops converge with the reference model ($variant)") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession(s"dml_$variant")
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    def isErr(r: gw.Page) = r.columns == Seq("error")

    val dir = java.nio.file.Files.createTempDirectory("graft-dmlfuzz").toString
    val mk = run(variant match {
      case "jdbc" =>
        s"CREATE TABLE dml_t (id BIGINT, v BIGINT, tag STRING) WITH " +
          s"('connector'='jdbc','url'='jdbc:derby:$dir/db;create=true'," +
          "'table-name'='dml_fuzz')"
      case v =>
        val dist =
          if (v == "bucketed") "DISTRIBUTED BY (id) INTO 4 BUCKETS "
          else if (v == "partitioned") "PARTITIONED BY (tag) "
          else ""
        s"CREATE TABLE dml_t (id BIGINT, v BIGINT, tag STRING) $dist" +
          s"WITH ('connector'='filesystem','path'='$dir','format'='parquet')"
    })
    assert(!isErr(mk), mk.rows)

    val seed = Map("plain" -> "550", "bucketed" -> "551", "jdbc" -> "552", "partitioned" -> "553")(variant)
    val rnd = new Random(sys.env.getOrElse("DML_FUZZ_SEED", seed).toLong)
    val model = mutable.ArrayBuffer.empty[R]
    var opLog = List.empty[String]

    def rows(k: Int): Seq[R] =
      Seq.fill(k)(R(rnd.nextInt(20).toLong, rnd.nextInt(100).toLong,
        Seq("a", "b", "c")(rnd.nextInt(3))))

    def actual(): Seq[(Long, Long, String)] = {
      val b = TableEnv.lookup("dml_t").get
      TableEnv.batchDF(gw.session(h).spark, b)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2)))
    }

    def check(step: Int): Unit = {
      val got = actual().sortBy(t => (t._1, t._2, String.valueOf(t._3)))
      val want = model.map(r => (r.id, r.v, r.tag))
        .sortBy(t => (t._1, t._2, String.valueOf(t._3))).toSeq
      assert(got == want,
        s"step $step: table diverged from model\n got: $got\nwant: $want\n" +
          s"recent:\n${opLog.take(6).mkString("\n")}")
    }

    (1 to soak(40)).foreach { step =>
      val op = rnd.nextInt(100)
      def exec(sql: String): Unit = {
        opLog = s"[$step] $sql" :: opLog
        val r = run(sql)
        assert(!isErr(r), s"step $step `$sql` failed: ${r.rows}")
      }

      if (op < 25) { // INSERT INTO ... VALUES (full row)
        val rs = rows(1 + rnd.nextInt(3))
        exec(s"INSERT INTO dml_t VALUES " +
          rs.map(r => s"(${r.id}, ${r.v}, '${r.tag}')").mkString(", "))
        model ++= rs
      } else if (op < 35) { // INSERT with a reordered column list: tag -> NULL
        val rs = rows(1 + rnd.nextInt(2))
        exec(s"INSERT INTO dml_t (v, id) VALUES " +
          rs.map(r => s"(${r.v}, ${r.id})").mkString(", "))
        model ++= rs.map(_.copy(tag = null))
      } else if (op < 43) { // INSERT OVERWRITE replaces everything
        val rs = rows(2 + rnd.nextInt(3))
        exec(s"INSERT OVERWRITE dml_t SELECT * FROM (VALUES " +
          rs.map(r => s"(CAST(${r.id} AS BIGINT), CAST(${r.v} AS BIGINT), '${r.tag}')")
            .mkString(", ") + ") AS t(id, v, tag)")
        model.clear(); model ++= rs
      } else if (op < 52) { // UPDATE with predicate (SET sees the OLD row)
        val k = 1 + rnd.nextInt(9); val m = rnd.nextInt(3)
        exec(s"UPDATE dml_t SET v = v + $k WHERE MOD(id, 3) = $m")
        model.indices.foreach { i =>
          if (model(i).id % 3 == m) model(i) = model(i).copy(v = model(i).v + k)
        }
      } else if (op < 58) { // column-swap UPDATE: both SETs see the OLD row
        val m = rnd.nextInt(2)
        exec(s"UPDATE dml_t SET id = v, v = id WHERE MOD(v, 2) = $m")
        model.indices.foreach { i =>
          val r = model(i)
          if (((r.v % 2) + 2) % 2 == m) model(i) = r.copy(id = r.v, v = r.id)
        }
      } else if (op < 65) { // UPDATE all rows
        val t = s"u$step"
        exec(s"UPDATE dml_t SET tag = '$t'")
        model.indices.foreach(i => model(i) = model(i).copy(tag = t))
      } else if (op < 75) { // DELETE with predicate
        val k = 20 + rnd.nextInt(80)
        exec(s"DELETE FROM dml_t WHERE v > $k")
        val keep = model.filterNot(_.v > k); model.clear(); model ++= keep
      } else if (op < 80) { // DELETE the NULL-tagged rows (IS NULL path)
        exec(s"DELETE FROM dml_t WHERE tag IS NULL")
        val keep = model.filter(_.tag != null); model.clear(); model ++= keep
      } else if (variant == "jdbc") { // MERGE is filesystem-only: append instead
        val rs = rows(1)
        exec(s"INSERT INTO dml_t VALUES " +
          rs.map(r => s"(${r.id}, ${r.v}, '${r.tag}')").mkString(", "))
        model ++= rs
      } else { // MERGE: distinct-id source, update matched / insert new
        val srcIds = rnd.shuffle((0 until 20).toList).take(2 + rnd.nextInt(3))
        val src = srcIds.map(id => (id.toLong, rnd.nextInt(100).toLong))
        exec("CREATE OR REPLACE TEMPORARY VIEW dml_src AS SELECT * FROM (VALUES " +
          src.map { case (id, v) => s"(CAST($id AS BIGINT), CAST($v AS BIGINT))" }
            .mkString(", ") + ") AS t(id, v)")
        exec("MERGE INTO dml_t t USING dml_src s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, 'm')")
        val byId = src.toMap
        model.indices.foreach { i =>
          byId.get(model(i).id).foreach(nv => model(i) = model(i).copy(v = nv))
        }
        val present = model.map(_.id).toSet
        model ++= src.collect { case (id, v) if !present(id) => R(id, v, "m") }
      }
      check(step)
    }
    gw.closeSession(h)
  }

  /** r14 (VERDICT item 1): interleave ALTER ADD/MODIFY/DROP with
    * INSERT/UPDATE/DELETE/MERGE/OVERWRITE on the SAME evolving filesystem
    * table, full-table diff against an in-memory model after every op.
    * This is the seam the r13 subsystems (schema evolution, DML rewrite)
    * had never been tested through together: NULL-fill generations,
    * computed columns mid-list, positional INSERT against an evolved
    * physical column order, safe retypes over mixed-generation files, and
    * named refusals for unsafe ones. */
  for (variant <- Seq("parquet", "json", "partitioned", "orc"))
  test(s"interleaved fuzz: ALTER evolution x DML converge with the model (220 ops, $variant)") {
    // parquet: the by-name baseline. json: the text-backed by-name path —
    // its retype whitelist differs (BIGINT→DOUBLE allowed, STRING→INT
    // data-dependent-refused). partitioned: partition-column guard rails
    // (tag undropable, directory-encoded values) under the same churn.
    // orc (r15): the free-conversion family — retypes WITHIN
    // numeric/string/boolean are allowed (an unparseable value reads NULL,
    // exercised via STRING→BIGINT below), date/timestamp conversions are
    // the refusal family.
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession(s"dml_evo_$variant")
    def page(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    def isErr(r: gw.Page) = r.columns == Seq("error")

    // schema model: computedMul = Some(k) means `name AS id * k`
    case class MCol(name: String, typ: String, computedMul: Option[Long] = None)
    var schema = Vector(MCol("id", "BIGINT"), MCol("v", "BIGINT"), MCol("tag", "STRING"))
    val rows = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    def physical = schema.filter(_.computedMul.isEmpty)

    val dir = java.nio.file.Files.createTempDirectory(s"graft-evofuzz-$variant").toString
    val (part, fmt) = variant match {
      case "partitioned" => ("PARTITIONED BY (tag) ", "parquet")
      case f => ("", f)
    }
    assert(!isErr(page(s"CREATE TABLE evo_t (id BIGINT, v BIGINT, tag STRING) $part" +
      s"WITH ('connector'='filesystem','path'='$dir','format'='$fmt')")))

    val seed = Map("parquet" -> "1414", "json" -> "1415",
      "partitioned" -> "1416", "orc" -> "1417")(variant)
    val rnd = new Random(sys.env.getOrElse("EVO_FUZZ_SEED", seed).toLong)
    var colSeq = 0
    var opLog = List.empty[String]
    def exec(sql: String): Unit = {
      opLog = sql :: opLog
      val r = page(sql)
      assert(!isErr(r), s"`$sql` failed: ${r.rows}\nrecent:\n${opLog.take(6).mkString("\n")}")
    }
    def execErr(sql: String, contains: String): Unit = {
      opLog = s"(expect-err) $sql" :: opLog
      val r = page(sql)
      assert(isErr(r), s"`$sql` should refuse, got ${r.rows.take(1)}")
      assert(r.rows.head.head.toString.contains(contains),
        s"`$sql` error should mention '$contains': ${r.rows.head.head}")
    }
    def lit(typ: String): Any = typ match {
      case "INT" | "BIGINT" => rnd.nextInt(100).toLong
      case "DOUBLE" => rnd.nextInt(40) + 0.25 // exact in binary
      case "STRING" => Seq("a", "b", "c")(rnd.nextInt(3))
    }
    def sqlLit(typ: String, v: Any): String =
      if (v == null) s"CAST(NULL AS $typ)"
      else if (typ == "STRING") s"'$v'" else s"CAST($v AS $typ)"
    def freshRow(): mutable.Map[String, Any] = {
      val m = mutable.Map.empty[String, Any]
      physical.foreach(c => m(c.name) = if (c.name == "id") rnd.nextInt(20).toLong else lit(c.typ))
      m
    }
    def expected(): Seq[Seq[String]] =
      rows.map { r =>
        schema.map { c =>
          val v = c.computedMul match {
            case Some(m) => r("id").asInstanceOf[Long] * m
            case None => r.getOrElse(c.name, null)
          }
          if (v == null) "∅" else String.valueOf(v)
        }.toSeq
      }.toSeq.sorted(Ordering.Implicits.seqOrdering[Seq, String])
    def check(step: Int): Unit = {
      // drain every page — the table is kept small but never assume one page
      var (token, eos, got) = (0, false, Vector.empty[Seq[String]])
      var cols: Seq[String] = Nil
      while (!eos) {
        val p = page("SELECT * FROM evo_t") // fresh op per token is fine: deterministic
        assert(!isErr(p), s"step $step SELECT * failed: ${p.rows}")
        cols = p.columns
        got = p.rows.map(_.map(v => if (v == null) "∅" else String.valueOf(v)).toSeq).toVector
        eos = true // pageSize 1000 >> table size; assert below guards the assumption
        token += 1
      }
      assert(rows.size < 900, s"fuzz table grew past one page: ${rows.size}")
      assert(cols == schema.map(_.name), s"step $step: declared order broke\n got: $cols\nwant: ${schema.map(_.name)}\nrecent:\n${opLog.take(8).mkString("\n")}")
      val want = expected()
      val gotS = got.sorted(Ordering.Implicits.seqOrdering[Seq, String])
      assert(gotS == want,
        s"step $step: table diverged\n got(${gotS.size}): ${gotS.take(8)}\nwant(${want.size}): ${want.take(8)}\nrecent:\n${opLog.take(8).mkString("\n")}")
    }
    def pos(): (String, Option[Either[Unit, String]]) =
      rnd.nextInt(3) match {
        case 0 => ("", None)
        case 1 => (" FIRST", Some(Left(())))
        case _ =>
          val t = schema(rnd.nextInt(schema.size)).name
          (s" AFTER $t", Some(Right(t)))
      }
    def insertAt(cd: MCol, p: Option[Either[Unit, String]], self: Option[String] = None): Unit = {
      val base = self.fold(schema)(n => schema.filterNot(_.name == n))
      schema = p match {
        case None => base :+ cd
        case Some(Left(())) => cd +: base
        case Some(Right(after)) =>
          val i = base.indexWhere(_.name == after)
          (base.take(i + 1) :+ cd) ++ base.drop(i + 1)
      }
    }

    (1 to soak(220)).foreach { step =>
      val op = rnd.nextInt(100)
      if (op < 20) { // INSERT full VALUES, positional against evolved physical order
        val k = 1 + rnd.nextInt(3)
        val rs = Seq.fill(k)(freshRow())
        exec(s"INSERT INTO evo_t VALUES " +
          rs.map(r => physical.map(c => sqlLit(c.typ, r(c.name))).mkString("(", ", ", ")"))
            .mkString(", "))
        rows ++= rs
      } else if (op < 30) { // INSERT with a shuffled column subset: rest NULL-fill
        val subset = rnd.shuffle("id" +: rnd.shuffle(physical.map(_.name).filterNot(_ == "id")).take(rnd.nextInt(physical.size)))
        val distinct = subset.distinct
        val r = freshRow()
        exec(s"INSERT INTO evo_t (${distinct.mkString(", ")}) VALUES " +
          distinct.map(n => sqlLit(physical.find(_.name == n).get.typ, r(n))).mkString("(", ", ", ")"))
        val m = mutable.Map.empty[String, Any]
        distinct.foreach(n => m(n) = r(n))
        rows += m
      } else if (op < 38) { // ALTER ADD plain column at a random position
        colSeq += 1
        val cd = MCol(s"c$colSeq", Seq("INT", "BIGINT", "DOUBLE", "STRING")(rnd.nextInt(4)))
        val (ps, p) = pos()
        exec(s"ALTER TABLE evo_t ADD ${cd.name} ${cd.typ}$ps")
        insertAt(cd, p)
      } else if (op < 44) { // ALTER ADD computed column mid-list
        colSeq += 1
        val mul = 2L + rnd.nextInt(9)
        val cd = MCol(s"c$colSeq", "BIGINT", Some(mul))
        val (ps, p) = pos()
        exec(s"ALTER TABLE evo_t ADD ${cd.name} AS id * $mul$ps")
        insertAt(cd, p)
      } else if (op < 52) { // ALTER DROP a droppable column
        val droppable = schema.filterNot(c => c.name == "id" ||
          (variant == "partitioned" && c.name == "tag"))
        if (droppable.nonEmpty) {
          val c = droppable(rnd.nextInt(droppable.size))
          exec(s"ALTER TABLE evo_t DROP ${c.name}")
          schema = schema.filterNot(_.name == c.name)
        }
      } else if (op < 58) { // ALTER MODIFY: reposition (same type / fresh computed expr)
        val c = schema(rnd.nextInt(schema.size))
        val (ps, p) = pos() match {
          case (s, Some(Right(after))) if after == c.name => ("", None)
          case other => other
        }
        // the engine keeps a MODIFY'd column IN PLACE when no position is
        // given (Flink semantics) — only FIRST/AFTER move it
        def applyModify(cd: MCol): Unit = p match {
          case None => schema = schema.map(x => if (x.name == cd.name) cd else x)
          case _ => insertAt(cd, p, self = Some(cd.name))
        }
        c.computedMul match {
          case Some(_) =>
            val mul = 2L + rnd.nextInt(9)
            exec(s"ALTER TABLE evo_t MODIFY ${c.name} AS id * $mul$ps")
            applyModify(c.copy(computedMul = Some(mul)))
          case None =>
            exec(s"ALTER TABLE evo_t MODIFY ${c.name} ${c.typ}$ps")
            applyModify(c)
        }
      } else if (op < 62) { // ALTER MODIFY safe retype: INT -> BIGINT|DOUBLE
        val orcStrings =
          if (variant == "orc")
            schema.filter(c => c.typ == "STRING" && c.computedMul.isEmpty
              && c.name != "tag") // keep one STRING col for UPDATE coverage
          else Vector.empty
        if (orcStrings.nonEmpty && rnd.nextBoolean()) {
          // orc-only: STRING->BIGINT is within orc's free-conversion family;
          // the generator's strings are never numeric, so every existing
          // value reads NULL after the retype (probed r14, PLANS.md
          // "Retype guard")
          val c = orcStrings(rnd.nextInt(orcStrings.size))
          exec(s"ALTER TABLE evo_t MODIFY ${c.name} BIGINT")
          schema = schema.map(x => if (x.name == c.name) x.copy(typ = "BIGINT") else x)
          rows.foreach(r => if (r.contains(c.name)) r(c.name) = null)
        } else schema.find(c => c.typ == "INT" && c.computedMul.isEmpty) match {
          case Some(c) =>
            val to = if (rnd.nextBoolean()) "BIGINT" else "DOUBLE"
            exec(s"ALTER TABLE evo_t MODIFY ${c.name} $to")
            schema = schema.map(x => if (x.name == c.name) x.copy(typ = to) else x)
            if (to == "DOUBLE") rows.foreach { r =>
              r.get(c.name).foreach {
                case l: Long => r(c.name) = l.toDouble
                case _ => ()
              }
            }
          case None => () // no INT column right now
        }
      } else if (op < 66) { // unsafe retype attempt: named refusal, model unchanged
        if (rows.nonEmpty) {
          if (variant == "orc") {
            // orc converts freely within numeric/string/boolean — its
            // refusal family is date/timestamp conversions over data
            val cands = physical.filterNot(_.name == "id")
            if (cands.nonEmpty) {
              val c = cands(rnd.nextInt(cands.size))
              execErr(s"ALTER TABLE evo_t MODIFY ${c.name} DATE", "cannot convert")
            }
          } else {
            // json re-parses text: BIGINT->DOUBLE is ALLOWED there, so the
            // only universally-unsafe pair is STRING->INT (data-dependent)
            val target = schema.find(c => c.typ == "STRING" && c.computedMul.isEmpty)
              .orElse(if (variant == "json") None
                else schema.find(c => c.typ == "BIGINT" && c.computedMul.isEmpty))
            target.foreach { c =>
              val to = if (c.typ == "STRING") "INT" else "DOUBLE"
              execErr(s"ALTER TABLE evo_t MODIFY ${c.name} $to", "cannot convert")
            }
          }
        }
      } else if (op < 72) { // UPDATE a random physical column
        val c = physical(rnd.nextInt(physical.size))
        if (c.typ == "STRING") {
          val t = s"u$step"; val m = rnd.nextInt(2)
          exec(s"UPDATE evo_t SET ${c.name} = '$t' WHERE MOD(id, 2) = $m")
          rows.foreach(r => if (r("id").asInstanceOf[Long] % 2 == m) r(c.name) = t)
        } else {
          val k = 1 + rnd.nextInt(9); val m = rnd.nextInt(3)
          exec(s"UPDATE evo_t SET ${c.name} = ${c.name} + $k WHERE MOD(id, 3) = $m")
          rows.foreach { r =>
            if (r("id").asInstanceOf[Long] % 3 == m) r.get(c.name) match {
              case Some(l: Long) => r(c.name) = l + k
              case Some(d: Double) => r(c.name) = d + k
              case _ => () // NULL stays NULL
            }
          }
        }
      } else if (op < 80) { // DELETE: id predicate or IS NULL over a NULL-fill generation
        if (rnd.nextBoolean() || physical.size < 2) {
          val m = rnd.nextInt(2)
          exec(s"DELETE FROM evo_t WHERE MOD(id, 2) = $m")
          val keep = rows.filterNot(_("id").asInstanceOf[Long] % 2 == m)
          rows.clear(); rows ++= keep
        } else {
          val c = physical.filterNot(_.name == "id")(rnd.nextInt(physical.size - 1))
          exec(s"DELETE FROM evo_t WHERE ${c.name} IS NULL")
          val keep = rows.filter(r => r.getOrElse(c.name, null) != null)
          rows.clear(); rows ++= keep
        }
      } else if (op < 86) { // INSERT OVERWRITE with the current physical schema
        val k = 2 + rnd.nextInt(3)
        val rs = Seq.fill(k)(freshRow())
        exec(s"INSERT OVERWRITE evo_t SELECT * FROM (VALUES " +
          rs.map(r => physical.map(c => sqlLit(c.typ, r(c.name))).mkString("(", ", ", ")"))
            .mkString(", ") + s") AS t(${physical.map(_.name).mkString(", ")})")
        rows.clear(); rows ++= rs
      } else if (op < 94) { // MERGE keyed on id: update one numeric col, insert full row
        val numeric = physical.filter(c => c.name != "id" && c.typ != "STRING")
        if (numeric.nonEmpty) {
          val c = numeric(rnd.nextInt(numeric.size))
          val srcIds = rnd.shuffle((0 until 20).toList).take(2 + rnd.nextInt(3))
          val src = srcIds.map(id => (id.toLong, rnd.nextInt(100).toLong))
          exec("CREATE OR REPLACE TEMPORARY VIEW evo_src AS SELECT * FROM (VALUES " +
            src.map { case (i, v) => s"(CAST($i AS BIGINT), CAST($v AS BIGINT))" }
              .mkString(", ") + ") AS t(id, v)")
          val insCols = physical.map(_.name)
          val insVals = physical.map { pc =>
            if (pc.name == "id") "s.id" else if (pc.name == c.name) "s.v"
            else s"CAST(NULL AS ${pc.typ})"
          }
          exec(s"MERGE INTO evo_t t USING evo_src s ON t.id = s.id " +
            s"WHEN MATCHED THEN UPDATE SET ${c.name} = s.v " +
            s"WHEN NOT MATCHED THEN INSERT (${insCols.mkString(", ")}) " +
            s"VALUES (${insVals.mkString(", ")})")
          val byId = src.toMap
          rows.foreach { r =>
            byId.get(r("id").asInstanceOf[Long]).foreach { nv =>
              r(c.name) = if (c.typ == "DOUBLE") nv.toDouble else nv
            }
          }
          val present = rows.map(_("id").asInstanceOf[Long]).toSet
          src.collect { case (i, v) if !present(i) =>
            val m = mutable.Map[String, Any]("id" -> i,
              c.name -> (if (c.typ == "DOUBLE") v.toDouble else v))
            rows += m
          }
        }
      } else { // illegal-op probes: named refusals, nothing changes
        rnd.nextInt(if (variant == "partitioned") 4 else 3) match {
          case 0 => execErr(s"ALTER TABLE evo_t ADD ${schema.head.name} INT", "already exists")
          case 1 => execErr("ALTER TABLE evo_t DROP no_such_col", "does not exist")
          case 3 => execErr("ALTER TABLE evo_t DROP tag", "partition column")
          case _ =>
            if (schema.exists(_.computedMul.isDefined))
              execErr("ALTER TABLE evo_t DROP id", "referenced by computed column")
            else execErr("ALTER TABLE evo_t MODIFY no_such_col INT", "does not exist")
        }
      }
      check(step)
    }
    gw.closeSession(h)
  }
}
