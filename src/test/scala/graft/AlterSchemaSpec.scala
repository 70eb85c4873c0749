package graft

import graft.engine.{Gateway, TableEnv}

/** ALTER TABLE ADD/MODIFY/DROP schema evolution on bindings (FLIP-273,
  * reference grammar G:315 — r13: previously only SET/RENAME routed; the
  * Flink column forms leaked raw Spark parse errors and ADD COLUMN hit
  * EXPECT_TABLE_NOT_VIEW against the binding materialization). */
class AlterSchemaSpec extends SparkTestBase {

  private def page(gw: Gateway, h: String, sql: String) =
    gw.fetchResults(gw.executeStatement(h, sql), 0)

  private def ok(gw: Gateway, h: String, sql: String): Unit = {
    val r = page(gw, h, sql)
    assert(r.columns != Seq("error"), s"`$sql` errored: ${r.rows}")
  }

  private def err(gw: Gateway, h: String, sql: String, contains: String): Unit = {
    val r = page(gw, h, sql)
    assert(r.columns == Seq("error"), s"`$sql` should refuse, got ${r.rows.take(1)}")
    assert(r.rows.head.head.toString.contains(contains),
      s"`$sql` error should mention '$contains': ${r.rows.head.head}")
  }

  test("column ADD/MODIFY/DROP with position, computed and metadata forms") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_schema")
    ok(gw, h, "CREATE TABLE ae (a INT, ts TIMESTAMP(3)) WITH " +
      "('connector'='datagen','number-of-rows'='3')")
    // single, list, computed, FIRST/AFTER positions, Spark-style COLUMN kw
    ok(gw, h, "ALTER TABLE ae ADD b STRING")
    ok(gw, h, "ALTER TABLE ae ADD (c DOUBLE, d AS a * 2, e INT FIRST)")
    ok(gw, h, "ALTER TABLE ae ADD COLUMN f STRING AFTER a")
    val sel = page(gw, h, "SELECT * FROM ae")
    assert(sel.columns == Seq("e", "a", "f", "ts", "b", "c", "d"),
      s"declared order must hold: ${sel.columns}")
    assert(sel.rows.size == 3)
    // MODIFY retypes in place; DROP removes
    ok(gw, h, "ALTER TABLE ae MODIFY b BIGINT")
    ok(gw, h, "ALTER TABLE ae DROP c")
    assert(page(gw, h, "SELECT * FROM ae").columns
      == Seq("e", "a", "f", "ts", "b", "d"))
    // named refusals: dup add, missing drop/modify, referenced/constrained
    err(gw, h, "ALTER TABLE ae ADD b STRING", "already exists")
    err(gw, h, "ALTER TABLE ae DROP nosuch", "does not exist")
    err(gw, h, "ALTER TABLE ae MODIFY nosuch INT", "does not exist")
    err(gw, h, "ALTER TABLE ae DROP a", "referenced by computed column")
    gw.closeSession(h)
  }

  test("watermark and primary-key evolution; SHOW CREATE round-trips") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_wm")
    ok(gw, h, "CREATE TABLE aw (id INT, ts TIMESTAMP(3)) WITH " +
      "('connector'='datagen','number-of-rows'='2')")
    ok(gw, h, "ALTER TABLE aw ADD WATERMARK FOR ts AS ts - INTERVAL '5' SECOND")
    err(gw, h, "ALTER TABLE aw ADD WATERMARK FOR ts AS ts - INTERVAL '9' SECOND",
      "already has a watermark")
    ok(gw, h, "ALTER TABLE aw MODIFY WATERMARK FOR ts AS ts - INTERVAL '9' SECOND")
    err(gw, h, "ALTER TABLE aw DROP ts", "carries the watermark")
    ok(gw, h, "ALTER TABLE aw ADD PRIMARY KEY (id) NOT ENFORCED")
    err(gw, h, "ALTER TABLE aw DROP id", "primary key")
    // the reconstructed DDL reflects every alteration and re-creates
    val show = page(gw, h, "SHOW CREATE TABLE aw")
    val ddl = show.rows.head.head.toString
    assert(ddl.contains("WATERMARK FOR") && ddl.contains("'9' SECOND")
      && ddl.contains("PRIMARY KEY"), ddl)
    ok(gw, h, "DROP TABLE aw")
    ok(gw, h, ddl)
    val desc = page(gw, h, "DESCRIBE aw")
    assert(desc.rows.map(_.head.toString) == Seq("id", "ts"), desc.rows)
    ok(gw, h, "ALTER TABLE aw DROP WATERMARK")
    ok(gw, h, "ALTER TABLE aw DROP PRIMARY KEY")
    err(gw, h, "ALTER TABLE aw DROP WATERMARK", "no watermark")
    gw.closeSession(h)
  }

  test("model fuzz: random ALTER sequences converge with a reference schema") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_fuzz")
    ok(gw, h, "CREATE TABLE af (base0 INT, base1 STRING) WITH " +
      "('connector'='datagen','number-of-rows'='2')")
    val rnd = new scala.util.Random(20260815L)
    // reference model: ordered (name, isComputed) plus watermark/pk flags
    var model = Vector(("base0", false), ("base1", false))
    var mWm = false
    var mPk = false
    var n = 1
    (1 to soak(120)).foreach { step =>
      val op = rnd.nextInt(10)
      def freshName = { n += 1; s"c$n" }
      def existing = model(rnd.nextInt(model.size))._1
      op match {
        case 0 | 1 | 2 => // ADD with random position
          val nm = freshName
          val pos = rnd.nextInt(3) match {
            case 0 => ""
            case 1 => " FIRST"
            case _ => s" AFTER $existing"
          }
          ok(gw, h, s"ALTER TABLE af ADD $nm BIGINT$pos")
          model =
            if (pos == " FIRST") (nm, false) +: model
            else if (pos.isEmpty) model :+ ((nm, false))
            else {
              val after = pos.stripPrefix(" AFTER ")
              val i = model.indexWhere(_._1 == after)
              (model.take(i + 1) :+ ((nm, false))) ++ model.drop(i + 1)
            }
        case 3 => // ADD computed over a random physical column
          val phys = model.filter(!_._2)
          if (phys.nonEmpty) {
            val nm = freshName
            val src = phys(rnd.nextInt(phys.size))._1
            // computed refs only physical; CAST keeps it type-agnostic
            ok(gw, h, s"ALTER TABLE af ADD $nm AS CAST($src AS STRING)")
            model = model :+ ((nm, true))
          }
        case 4 => // MODIFY retype in place (physical only, keep position)
          val phys = model.filter(!_._2)
          if (phys.nonEmpty)
            ok(gw, h, s"ALTER TABLE af MODIFY ${phys(rnd.nextInt(phys.size))._1} DOUBLE")
        case 5 | 6 => // DROP a random column — the ENGINE decides (refs,
          // watermark, pk, last-physical guards); the model mirrors success
          val t = existing
          val r = page(gw, h, s"ALTER TABLE af DROP $t")
          if (r.columns != Seq("error")) model = model.filterNot(_._1 == t)
          else assert(r.rows.head.head.toString.matches(
            "(?s).*(referenced by computed column|carries the watermark|" +
              "primary key|last physical column).*"),
            s"unexpected DROP refusal: ${r.rows.head.head}")
        case 7 => // watermark lifecycle (ts column may not exist — add once)
          if (!model.exists(_._1 == "wmts")) {
            ok(gw, h, "ALTER TABLE af ADD wmts TIMESTAMP(3)")
            model = model :+ (("wmts", false))
          }
          if (!mWm) { ok(gw, h,
            "ALTER TABLE af ADD WATERMARK FOR wmts AS wmts - INTERVAL '5' SECOND")
            mWm = true
          } else { ok(gw, h, "ALTER TABLE af DROP WATERMARK"); mWm = false }
        case 8 => // pk lifecycle over a random physical column
          if (!mPk) {
            val phys = model.filter(!_._2)
            if (phys.nonEmpty) {
              ok(gw, h, s"ALTER TABLE af ADD PRIMARY KEY (${phys(rnd.nextInt(phys.size))._1}) NOT ENFORCED")
              mPk = true
            }
          } else { ok(gw, h, "ALTER TABLE af DROP PRIMARY KEY"); mPk = false }
        case 9 => // always-refused forms stay named
          err(gw, h, s"ALTER TABLE af ADD $existing INT", "already exists")
          err(gw, h, "ALTER TABLE af DROP ghost_col", "does not exist")
      }
      // convergence sweep: SELECT * column order must equal the model
      val cols = page(gw, h, "SELECT * FROM af").columns
      assert(cols == model.map(_._1),
        s"step $step: engine $cols != model ${model.map(_._1)}")
    }
    // end-to-end round-trip of the final evolved schema
    val ddl = page(gw, h, "SHOW CREATE TABLE af").rows.head.head.toString
    ok(gw, h, "DROP TABLE af")
    ok(gw, h, ddl)
    assert(page(gw, h, "SELECT * FROM af").columns == model.map(_._1),
      "SHOW CREATE of the evolved schema must recreate it exactly")
    gw.closeSession(h)
  }

  test("filesystem evolution workflow: old files NULL-fill, new writes carry the column") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_fs")
    val dir = java.nio.file.Files.createTempDirectory("graft-evo").toString
    ok(gw, h, s"CREATE TABLE evo (a INT, b STRING) WITH " +
      s"('connector'='filesystem','path'='$dir','format'='parquet')")
    ok(gw, h, "INSERT INTO evo VALUES (1, 'x'), (2, 'y')")
    ok(gw, h, "ALTER TABLE evo ADD c DOUBLE")
    // pre-evolution files read NULL for the appended column
    val r1 = page(gw, h, "SELECT * FROM evo ORDER BY a")
    assert(r1.columns == Seq("a", "b", "c"))
    assert(r1.rows.map(_(2)) == Seq(null, null), r1.rows)
    // post-evolution inserts carry it; both generations read together
    ok(gw, h, "INSERT INTO evo VALUES (3, 'z', 9.5)")
    ok(gw, h, "ALTER TABLE evo ADD d AS a * 10")
    val r2 = page(gw, h, "SELECT * FROM evo ORDER BY a")
    assert(r2.columns == Seq("a", "b", "c", "d"))
    assert(r2.rows.map(r => (r.head, r(2), r(3)))
      == Seq((1, null, 10), (2, null, 20), (3, 9.5, 30)), r2.rows)
    gw.closeSession(h)
  }

  test("ALTER propagates across sessions; temp shadow blocks it") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h1 = gw.openSession("alter_s1")
    val h2 = gw.openSession("alter_s2")
    ok(gw, h1, "CREATE TABLE ap (a INT) WITH ('connector'='datagen','number-of-rows'='2')")
    // session 2 materializes the pre-ALTER table, then must see the change
    assert(page(gw, h2, "SELECT * FROM ap").columns == Seq("a"))
    ok(gw, h1, "ALTER TABLE ap ADD b STRING")
    assert(page(gw, h2, "SELECT * FROM ap").columns == Seq("a", "b"),
      "other sessions must re-materialize after ALTER")
    // a temp-table shadow in the altering session blocks the verb by name
    ok(gw, h1, "CREATE TABLE shad (x INT) WITH " +
      "('connector'='datagen','number-of-rows'='1')")
    // connector-less temporary relations are the session objects that
    // shadow shared names (r12 namespace rules)
    ok(gw, h2, "CREATE TEMPORARY TABLE shad (y INT)")
    err(gw, h2, "ALTER TABLE shad ADD z INT", "shadows")
    ok(gw, h1, "ALTER TABLE shad ADD z INT") // unshadowed session can
    gw.closeSession(h1); gw.closeSession(h2)
  }

  test("r13 ADVICE: watermark base-column mismatch refused; jdbc PK guard whitespace-robust") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_advice")
    ok(gw, h, "CREATE TABLE av (id INT, ts TIMESTAMP(3), other TIMESTAMP(3)) " +
      "WITH ('connector'='datagen','number-of-rows'='2')")
    // Flink rejects a rowtime expression based on a different column — the
    // old parser silently watermarked `ts` here
    err(gw, h, "ALTER TABLE av ADD WATERMARK FOR ts AS other - INTERVAL '5' SECOND",
      "must be based on the watermark column")
    ok(gw, h, "ALTER TABLE av ADD WATERMARK FOR ts AS `ts` - INTERVAL '5' SECOND")
    // jdbc binding: PK evolution is projection-level and allowed, including
    // with arbitrary whitespace in PRIMARY  KEY (the guard used to check a
    // single-space literal and wrongly refuse with the physical-columns
    // message); plain-column edits stay refused by name
    ok(gw, h, "CREATE TABLE aj (id INT, v STRING) WITH ('connector'='jdbc'," +
      "'url'='jdbc:mysql://localhost:3306/d','table-name'='t')")
    ok(gw, h, "ALTER TABLE aj ADD PRIMARY\n  KEY (id) NOT ENFORCED")
    ok(gw, h, "ALTER TABLE aj DROP PRIMARY\n\tKEY")
    err(gw, h, "ALTER TABLE aj ADD newcol STRING", "jdbc binding")
    gw.closeSession(h)
  }

  test("r15 ADVICE: CREATE-path watermark base-column check; metadata-only dirs count as empty") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_advice15")
    // the base-column check previously applied only to ALTER; CREATE TABLE
    // matched any base column and silently watermarked the FOR column
    err(gw, h, "CREATE TABLE wc (id INT, ts TIMESTAMP(3), other TIMESTAMP(3), " +
      "WATERMARK FOR ts AS other - INTERVAL '5' SECOND) " +
      "WITH ('connector'='datagen','number-of-rows'='2')",
      "must be based on the watermark column")
    // an unparseable watermark expression used to be DROPPED silently at
    // CREATE time (no watermark registered, no signal); now a named error
    err(gw, h, "CREATE TABLE wg (id INT, ts TIMESTAMP(3), " +
      "WATERMARK FOR ts AS some_udf(ts)) " +
      "WITH ('connector'='datagen','number-of-rows'='2')",
      "unsupported watermark expression")
    ok(gw, h, "CREATE TABLE wk (id INT, ts TIMESTAMP(3), " +
      "WATERMARK FOR ts AS ts - INTERVAL '5' SECOND) " +
      "WITH ('connector'='datagen','number-of-rows'='2')")
    // hasDataFiles: files under a metadata DIRECTORY (_spark_metadata/0 has
    // leaf name "0") must not count as data — a csv table holding only
    // streaming commit logs is still layout-mutable
    val dir = java.nio.file.Files.createTempDirectory("graft-meta-only")
    java.nio.file.Files.createDirectory(dir.resolve("_spark_metadata"))
    java.nio.file.Files.write(dir.resolve("_spark_metadata").resolve("0"),
      "v1".getBytes)
    ok(gw, h, s"CREATE TABLE mo (a INT, b STRING) WITH " +
      s"('connector'='filesystem','path'='$dir','format'='csv')")
    ok(gw, h, "ALTER TABLE mo ADD c DOUBLE") // layout change: dir is "empty"
    ok(gw, h, "ALTER TABLE mo MODIFY a BIGINT")
    gw.closeSession(h)
  }

  test("MODIFY retype guard: reader-incompatible retypes refuse while data exists (r14)") {
    // probed matrix (PLANS.md "Retype guard"): a retype the format's reader
    // can't convert used to succeed at ALTER time and poison every later read
    // with a raw decoder error — or silently corrupt values on avro
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_retype")
    def mk(t: String, cols: String, fmt: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-rt-$t").toString
      ok(gw, h, s"CREATE TABLE $t ($cols) WITH " +
        s"('connector'='filesystem','path'='$dir','format'='$fmt')")
      dir
    }
    mk("rp", "a BIGINT, s STRING, d DECIMAL(10,2), k INT", "parquet")
    // empty table: any retype is fine — no files hold the old type yet
    ok(gw, h, "ALTER TABLE rp MODIFY s INT")
    ok(gw, h, "ALTER TABLE rp MODIFY s STRING")
    ok(gw, h, "INSERT INTO rp VALUES (1, 'x', 1.25, 7)")
    // parquet reader upcasts INT32 chains, FLOAT→DOUBLE, DATE→TIMESTAMP,
    // decimal widening — and nothing else
    ok(gw, h, "ALTER TABLE rp MODIFY k BIGINT")
    ok(gw, h, "ALTER TABLE rp MODIFY d DECIMAL(12,4)")
    err(gw, h, "ALTER TABLE rp MODIFY a DOUBLE", "cannot convert")
    err(gw, h, "ALTER TABLE rp MODIFY s INT", "cannot convert")
    err(gw, h, "ALTER TABLE rp MODIFY a INT", "cannot convert") // narrowing
    val r = page(gw, h, "SELECT a, s, d, k FROM rp")
    assert(r.rows == Seq(Seq(1L, "x", new java.math.BigDecimal("1.2500"), 7L)), r.rows)
    // avro decodes DATE days as TIMESTAMP micros and misscales DECIMAL on a
    // scale change — both would be SILENT corruption, both refuse
    mk("ra", "dt DATE, d DECIMAL(10,2)", "avro")
    ok(gw, h, "INSERT INTO ra VALUES (DATE '2024-01-02', CAST(1.25 AS DECIMAL(10,2)))")
    err(gw, h, "ALTER TABLE ra MODIFY dt TIMESTAMP(3)", "cannot convert")
    err(gw, h, "ALTER TABLE ra MODIFY d DECIMAL(12,4)", "cannot convert")
    ok(gw, h, "ALTER TABLE ra MODIFY d DECIMAL(20,2)") // precision-only: safe
    // text formats re-parse: widening fine, data-dependent narrowing refused
    mk("rj", "s STRING, v DOUBLE", "json")
    ok(gw, h, "INSERT INTO rj VALUES ('x', 1.5)")
    err(gw, h, "ALTER TABLE rj MODIFY s INT", "cannot convert")
    err(gw, h, "ALTER TABLE rj MODIFY v INT", "cannot convert")
    ok(gw, h, "ALTER TABLE rj MODIFY v DECIMAL(10,2)")
    gw.closeSession(h)
  }

  test("ALTER between streaming job starts: running jobs keep the captured schema, new starts see the evolved one (r14)") {
    // the reference keeps jobs live across DDL (notebookController.ts:
    // 219-294): a Flink job is a compiled topology — evolving the source or
    // sink BINDING must not touch a running INSERT job; only the NEXT job
    // start compiles against the evolved schema. This pins exactly which
    // schema each start sees.
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("alter_stream")
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    val runDir = s"/tmp/graft-alterstream-${java.util.UUID.randomUUID()}"
    ok(gw, h, "CREATE TABLE as_src (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','rows-per-second'='200')")
    ok(gw, h, s"CREATE TABLE as_snk (id BIGINT, v DOUBLE) WITH " +
      s"('connector'='filesystem','path'='$runDir/snk','format'='parquet'," +
      s"'checkpoint'='$runDir/ckpt')")
    def startJob(sql: String): String = {
      val msg = run(sql).rows.head.head.toString
      "Job (\\S+) started".r.findFirstMatchIn(msg)
        .getOrElse(fail(s"unexpected INSERT result '$msg'")).group(1)
    }
    def running(job: String) = run("SHOW JOBS").rows.exists(r =>
      r(1).toString == job && r(2).toString == "RUNNING")
    def countWhere(pred: String): Long =
      try run(s"SELECT count(*) AS n FROM as_snk WHERE $pred").rows.head.head.toString.toLong
      catch { case _: Exception => -1L }
    def awaitTrue(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(250)
      assert(cond, s"timed out waiting for: $what")
    }
    val job1 = startJob("INSERT INTO as_snk SELECT id, v FROM as_src")
    try {
      awaitTrue("job1 committing")(running(job1) && countWhere("true") > 0)
      // evolve BOTH bindings while job1 runs
      ok(gw, h, "ALTER TABLE as_snk ADD tag STRING")
      ok(gw, h, "ALTER TABLE as_src ADD w DOUBLE")
      assert(running(job1), "running job died on a binding ALTER")
      // the captured 2-column plan keeps committing — generation-1 rows
      // read through the evolved 3-column binding with tag NULL-filled
      val before = countWhere("true")
      awaitTrue("job1 commits past the ALTER")(countWhere("true") > before)
      val sel = page(gw, h, "SELECT * FROM as_snk")
      assert(sel.columns == Seq("id", "v", "tag"),
        s"evolved sink read order: ${sel.columns}")
      assert(countWhere("tag IS NOT NULL") == 0,
        "a RUNNING job must not see the evolved schema")
    } finally {
      run(s"STOP JOB '$job1'")
    }
    // a job compiled AFTER the ALTERs sees the evolved source column and
    // the 3-column sink schema
    val job2 = startJob("INSERT INTO as_snk SELECT id, w, 'g2' FROM as_src")
    try {
      awaitTrue("job2 writes evolved rows")(countWhere("tag = 'g2'") > 0)
      assert(countWhere("tag IS NULL") > 0, "generation-1 rows must survive")
    } finally {
      run(s"STOP JOB '$job2'")
      graft.engine.Jobs.stopAll()
    }
    gw.closeSession(h)
  }

  test("csv layout freeze: positional evolution refuses while data exists (r14)") {
    // csv rows bind by POSITION: ADD (even at the end — old rows then carry
    // the wrong token count), DROP, and MODIFY-reposition all misread every
    // pre-evolution file, or silently misassign same-typed columns. json/
    // avro/orc/parquet bind by name and evolve freely (probed r14, PLANS.md
    // "Round-14 final tallies").
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("csv_freeze")
    val dir = java.nio.file.Files.createTempDirectory("graft-csvfreeze").toString
    ok(gw, h, s"CREATE TABLE cf (a INT, b STRING, c DOUBLE) WITH " +
      s"('connector'='filesystem','path'='$dir','format'='csv')")
    // empty table: layout still free
    ok(gw, h, "ALTER TABLE cf ADD z BIGINT FIRST")
    ok(gw, h, "ALTER TABLE cf DROP z")
    ok(gw, h, "INSERT INTO cf VALUES (1, 'x', 1.5)")
    // with data: every physical-layout change refuses by name
    err(gw, h, "ALTER TABLE cf ADD z BIGINT", "bind by POSITION")
    err(gw, h, "ALTER TABLE cf ADD z BIGINT FIRST", "bind by POSITION")
    err(gw, h, "ALTER TABLE cf DROP b", "bind by POSITION")
    err(gw, h, "ALTER TABLE cf MODIFY c DOUBLE FIRST", "bind by POSITION")
    // projection-level edits and in-place retypes stay allowed
    ok(gw, h, "ALTER TABLE cf ADD d AS a * 2")
    ok(gw, h, "ALTER TABLE cf MODIFY a BIGINT")
    ok(gw, h, "ALTER TABLE cf ADD PRIMARY KEY (a) NOT ENFORCED")
    val r = page(gw, h, "SELECT * FROM cf")
    assert(r.columns == Seq("a", "b", "c", "d") &&
      r.rows == Seq(Seq(1L, "x", 1.5, 2L)), s"${r.columns} ${r.rows}")
    // json binds by name: the same evolutions are fine with data
    val jdir = java.nio.file.Files.createTempDirectory("graft-jsonevo").toString
    ok(gw, h, s"CREATE TABLE jf (a INT, b STRING) WITH " +
      s"('connector'='filesystem','path'='$jdir','format'='json')")
    ok(gw, h, "INSERT INTO jf VALUES (1, 'x')")
    ok(gw, h, "ALTER TABLE jf ADD z BIGINT FIRST")
    ok(gw, h, "ALTER TABLE jf DROP b")
    assert(page(gw, h, "SELECT * FROM jf").rows == Seq(Seq(null, 1)))
    gw.closeSession(h)
  }

  test("views capture their creation-time schema: ALTER does not grow SELECT * views (r14)") {
    // Flink stores the EXPANDED query (CatalogView.expandedQuery): a
    // `SELECT *` view's columns are fixed at CREATE VIEW time. Before r14
    // our views re-expanded `*` at every materialization, so an unrelated
    // ALTER ADD silently grew every star-view over the table.
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("view_capture")
    val dir = java.nio.file.Files.createTempDirectory("graft-viewcap").toString
    ok(gw, h, s"CREATE TABLE vc_base (a INT, b STRING) WITH " +
      s"('connector'='filesystem','path'='$dir','format'='parquet')")
    ok(gw, h, "INSERT INTO vc_base VALUES (1, 'x')")
    ok(gw, h, "CREATE VIEW vc_star AS SELECT * FROM vc_base")
    ok(gw, h, "ALTER TABLE vc_base ADD c DOUBLE")
    ok(gw, h, "INSERT INTO vc_base VALUES (2, 'y', 9.5)")
    val r = page(gw, h, "SELECT * FROM vc_star ORDER BY a")
    assert(r.columns == Seq("a", "b"), s"star view grew: ${r.columns}")
    assert(r.rows.size == 2)
    // the base table itself DOES show the evolved schema
    assert(page(gw, h, "SELECT * FROM vc_base").columns == Seq("a", "b", "c"))
    // a column the view captured is dropped: the view errors BY NAME
    ok(gw, h, "ALTER TABLE vc_base DROP b")
    val e = page(gw, h, "SELECT * FROM vc_star")
    assert(e.columns == Seq("error") && e.rows.head.head.toString.contains("`b`"), e.rows.take(1))
    // re-creating the view re-captures the current schema
    ok(gw, h, "CREATE OR REPLACE VIEW vc_star AS SELECT * FROM vc_base")
    assert(page(gw, h, "SELECT * FROM vc_star").columns == Seq("a", "c"))
    // SHOW CREATE VIEW still shows the ORIGINAL body, not the wrap
    val sc = page(gw, h, "SHOW CREATE VIEW vc_star").rows.head.head.toString
    assert(sc.contains("SELECT * FROM vc_base") && !sc.contains("__graft_view_body"), sc)
    // cross-session: another session sees the same captured schema
    val h2 = gw.openSession("view_capture2")
    ok(gw, h, "ALTER TABLE vc_base ADD d BIGINT")
    assert(page(gw, h2, "SELECT * FROM vc_star").columns == Seq("a", "c"))
    gw.closeSession(h); gw.closeSession(h2)
  }

  test("STATEMENT SET members evolving between EXECUTEs: invalid member fails the WHOLE set, nothing runs (r15)") {
    // Flink compiles a statement set as one job — all-or-nothing. Before
    // r15 an ALTER that invalidated member 2 between two EXECUTEs failed
    // MID-SET: member 1's write had already committed while the statement
    // answered an error. Pinned: per-member compile error names the member,
    // earlier members run nothing, and a set recompiled against further
    // evolution succeeds.
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("ss_evolve")
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    val d = java.nio.file.Files.createTempDirectory("graft-ssevo").toString
    ok(gw, h, "CREATE TABLE se_src (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','number-of-rows'='100')")
    ok(gw, h, s"CREATE TABLE se_a (id BIGINT) WITH ('connector'='filesystem'," +
      s"'path'='$d/a','format'='parquet')")
    ok(gw, h, s"CREATE TABLE se_b (id BIGINT, v DOUBLE) WITH ('connector'='filesystem'," +
      s"'path'='$d/b','format'='parquet')")
    def count(t: String): Long =
      run(s"SELECT count(*) AS n FROM $t").rows.head.head.toString.toLong
    val set = "BEGIN STATEMENT SET; INSERT INTO se_a SELECT id FROM se_src; " +
      "INSERT INTO se_b SELECT id, v FROM se_src; END"
    ok(gw, h, set)
    assert(count("se_a") == 100 && count("se_b") == 100)
    // evolve the SOURCE so member 2 no longer compiles (v gone)
    ok(gw, h, "ALTER TABLE se_src DROP v")
    err(gw, h, set, "member 2 of 2 failed to compile")
    err(gw, h, set, "no member was executed")
    assert(count("se_a") == 100, "member 1 must NOT have run in a failed set")
    assert(count("se_b") == 100)
    // evolve the SINK arity so a member is invalid the other way round
    ok(gw, h, "ALTER TABLE se_a ADD tag STRING")
    err(gw, h, "BEGIN STATEMENT SET; INSERT INTO se_a SELECT id FROM se_src; END",
      "member 1 of 1 failed to compile")
    assert(count("se_a") == 100)
    // a set recompiled against the evolved bindings runs both members
    ok(gw, h, "BEGIN STATEMENT SET; INSERT INTO se_a SELECT id, 'g2' FROM se_src; " +
      "INSERT INTO se_b SELECT id, CAST(id AS DOUBLE) FROM se_src; END")
    assert(count("se_a") == 200 && count("se_b") == 200)

    // STREAMING members: a member whose start-time preflight would refuse
    // (sink log diverged from its checkpoint) fails the WHOLE set at
    // pre-compile — no sibling job starts
    ok(gw, h, "CREATE TABLE se_live (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','rows-per-second'='500')")
    ok(gw, h, s"CREATE TABLE se_s1 (id BIGINT) WITH ('connector'='filesystem'," +
      s"'path'='$d/s1','format'='parquet','checkpoint'='$d/c1')")
    ok(gw, h, s"CREATE TABLE se_s2 (id BIGINT) WITH ('connector'='filesystem'," +
      s"'path'='$d/s2','format'='parquet','checkpoint'='$d/c2')")
    def awaitTrue(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(250)
      assert(cond, s"timed out waiting for: $what")
    }
    val j2 = "Job (\\S+) started".r.findFirstMatchIn(
      run("INSERT INTO se_s2 SELECT id FROM se_live").rows.head.head.toString)
      .get.group(1)
    try {
      awaitTrue("se_s2 commits")(
        (try count("se_s2") catch { case _: Exception => -1L }) > 0)
      ok(gw, h, s"STOP JOB '$j2'")
      ok(gw, h, "INSERT INTO se_s2 VALUES (-1)") // diverges s2's sink log
      def runningJobs() = run("SHOW JOBS").rows.count(r =>
        r(1).toString.startsWith("se_s") && r(2).toString == "RUNNING")
      val before = runningJobs()
      err(gw, h, "BEGIN STATEMENT SET; INSERT INTO se_s1 SELECT id FROM se_live; " +
        "INSERT INTO se_s2 SELECT id FROM se_live; END",
        "member 2 of 2 failed to compile")
      assert(runningJobs() == before,
        "a refused set must not leave sibling streaming jobs running")
      // runtime failure PAST the pre-compile: member 2's jdbc write fails at
      // execution — member 1's already-started streaming job is stopped and
      // the error names the member
      ok(gw, h, "CREATE TABLE se_bad (id BIGINT) WITH ('connector'='jdbc'," +
        "'url'='jdbc:graftnosuch://nowhere/d','table-name'='t')")
      // the bad member must fail SYNCHRONOUSLY at route time, so it is a
      // batch write (a streaming jdbc member fails async in its own job)
      err(gw, h, "BEGIN STATEMENT SET; INSERT INTO se_s1 SELECT id FROM se_live; " +
        "INSERT INTO se_bad VALUES (1); END",
        "member 2 of 2 failed at start")
      assert(runningJobs() == before,
        "the failing member must stop its earlier siblings' jobs")
    } finally graft.engine.Jobs.stopAll()
    gw.closeSession(h)
  }

  test("STATEMENT SET with streaming inserts: jobs run, post-ALTER sets see the evolved schema (r14)") {
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("ss_stream")
    def run(s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    val d = s"/tmp/graft-ssalter-${java.util.UUID.randomUUID()}"
    ok(gw, h, "CREATE TABLE ss_src (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','rows-per-second'='200')")
    ok(gw, h, s"CREATE TABLE ss_a (id BIGINT, v DOUBLE) WITH ('connector'='filesystem'," +
      s"'path'='$d/a','format'='parquet','checkpoint'='$d/ca')")
    ok(gw, h, s"CREATE TABLE ss_b (id BIGINT, v DOUBLE) WITH ('connector'='filesystem'," +
      s"'path'='$d/b','format'='parquet','checkpoint'='$d/cb')")
    def count(t: String, pred: String = "true"): Long =
      try run(s"SELECT count(*) AS n FROM $t WHERE $pred").rows.head.head.toString.toLong
      catch { case _: Exception => -1L }
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(250)
      assert(cond, s"timed out: $what")
    }
    try {
      // one set, two STREAMING inserts: both jobs start and commit
      val msg = run("BEGIN STATEMENT SET; INSERT INTO ss_a SELECT id, v FROM ss_src; " +
        "INSERT INTO ss_b SELECT id, v FROM ss_src; END").rows.head.head.toString
      assert(msg.contains("2 inserts"), msg)
      await("both sinks commit")(count("ss_a") > 0 && count("ss_b") > 0)
      // ALTER while the set's jobs run: they keep their captured schema.
      // Check THE SET'S OWN jobs by name — the jobs registry is global and
      // another suite's leftover job must not poison a bare RUNNING count.
      ok(gw, h, "ALTER TABLE ss_b ADD tag STRING")
      val jobs = run("SHOW JOBS").rows
      assert(Seq("ss_a_", "ss_b_").forall(p => jobs.exists(r =>
          r(1).toString.startsWith(p) && r(2).toString == "RUNNING")),
        s"a statement-set job died on ALTER: $jobs")
      graft.engine.Jobs.stopAll()
      // a set compiled AFTER the ALTER writes the evolved schema
      ok(gw, h, "BEGIN STATEMENT SET; INSERT INTO ss_b SELECT id, v, 'g2' FROM ss_src; END")
      await("evolved rows commit")(count("ss_b", "tag = 'g2'") > 0)
      assert(count("ss_b", "tag IS NULL") > 0, "generation-1 rows must survive")
    } finally graft.engine.Jobs.stopAll()
    gw.closeSession(h)
  }

  test("a read failure at fetch time answers an error page, not a raw throw (r14)") {
    // batch results materialize lazily: schema/file drift after routing
    // surfaces at fetchResults — the gateway contract (never a raw throw)
    // must hold there too. Forge the drift by dropping the files under a
    // routed-but-unfetched SELECT.
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession("fetch_err")
    val dir = java.nio.file.Files.createTempDirectory("graft-fetcherr").toString
    ok(gw, h, s"CREATE TABLE fe (a INT) WITH " +
      s"('connector'='filesystem','path'='$dir','format'='parquet')")
    ok(gw, h, "INSERT INTO fe VALUES (1), (2)")
    val op = gw.executeStatement(h, "SELECT * FROM fe")
    // corrupt the files AFTER routing, BEFORE the first fetch
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](16)(0x7f))
    }
    val p = gw.fetchResults(op, 0)
    assert(p.columns == Seq("error"), s"expected an error page: ${p.rows.take(1)}")
    assert(p.eos)
    // the session stays usable
    val again = page(gw, h, "SELECT 1 AS one")
    assert(again.rows == Seq(Seq(1)))
    gw.closeSession(h)
  }
}
