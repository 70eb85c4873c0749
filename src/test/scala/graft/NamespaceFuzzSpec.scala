package graft

import scala.collection.mutable
import scala.util.Random
import graft.engine.{Gateway, Jobs, TableEnv}

/** Model-based fuzz of the shared table/view namespace lifecycle (r12).
  *
  * Three gateway sessions issue a random interleaving of CREATE / DROP /
  * RENAME over a 4-name pool SHARED by tables, catalog views, and session
  * temporary views — the collision-heavy regime where this family's bugs
  * live (silent re-CREATE clobbering a table other sessions read, ghost
  * materializations after DROP/RENAME, cross-kind drops destroying a
  * different object than named, binding refresh clobbering a shadow).
  *
  * A spec-side reference model tracks what MUST exist where. After every
  * op the gateway's outcome (error vs success) must match the model, and
  * periodically the full (session × name) visibility matrix is swept with
  * SELECT count(*) probes — every created object carries a globally
  * unique row count, so the observed count identifies exactly WHICH
  * object (and which version of it) answered the name.
  *
  * Modeled semantics (Flink's object model, §2.2; reference surfaces it
  * through the same DDL — src/flinkSqlLanguageServer.ts grammar G:315):
  *   - tables and catalog views share one cluster-wide namespace;
  *   - temporary views are session-scoped and SHADOW the shared object;
  *   - plain CREATE on a live name fails, IF NOT EXISTS no-ops, only
  *     OR REPLACE (views) redefines; cross-kind CREATE always fails;
  *   - DROP must name the right kind and temporariness, both directions;
  *   - RENAME refuses live targets and kills the old name everywhere.
  */
class NamespaceFuzzSpec extends SparkTestBase {

  // a 10-seed sweep (3000 ops) converged in r12; three pinned for runtime.
  // The fourth instance (r16) routes the SAME model through TWO LIVE
  // gateway instances (sessions 0-1 on gateway A, session 2 on gateway B):
  // the modeled semantics are cluster/session-level, so any divergence the
  // split topology introduces is a cross-instance exactness bug (the r15
  // ADVICE class — per-gateway shadow knowledge / invalidation sweeps).
  for ((seed, split) <- Seq((420012L, false), (987654L, false), (333L, false),
    (20260816L, true)))
  test(s"model fuzz: 300 random DDL ops across 3 sessions" +
      (if (split) " on TWO LIVE GATEWAYS" else "") +
      s" converge with the reference model (seed $seed)") {
    TableEnv.clear()
    val gwA = new Gateway(spark)
    val gwB = if (split) new Gateway(spark) else gwA
    val gws = Vector(gwA, gwA, gwB)
    val hs = Vector(gwA.openSession("ns_a"), gwA.openSession("ns_b"),
      gwB.openSession("ns_c"))
    def run(i: Int, s: String) = gws(i).fetchResults(gws(i).executeStatement(hs(i), s), 0)
    def isErr(r: Gateway#Page) = r.columns == Seq("error")

    val names = Vector("ns_x", "ns_y", "ns_z", "ns_w")
    // base-table pool for STAR VIEWS (r15: view schema capture folded into
    // the model). Kept OUTSIDE the collision pool so the inner name of a
    // captured view body always resolves to a table (never a shadow) — the
    // capture semantics under test are: creation-time column capture,
    // unrelated ALTER ADD not growing the view, a read error BY NAME when a
    // captured column is dropped (or the base is gone), OR REPLACE
    // re-capture, and shadow/un-shadow with captured text.
    val baseNames = Vector("ns_base1", "ns_base2")
    val rnd = new Random(seed)
    var counter = 1 // unique row count per created object version

    // a view definition: a self-contained VALUES body, or a star-capture
    // over a base table (captured = column list at creation time)
    sealed trait VDef
    case class ValuesV(rows: Int) extends VDef
    case class StarV(base: String, captured: Vector[String]) extends VDef

    // reference model
    val tables = mutable.Map.empty[String, (Boolean, Int)] // name -> (temporary, rows)
    val tcols  = mutable.Map.empty[String, Vector[String]] // base name -> ADDed columns
    val views  = mutable.Map.empty[String, VDef]           // name -> definition
    val temps  = mutable.Map.empty[(Int, String), VDef]    // (session, name) -> definition
    val plains = mutable.Set.empty[(Int, String)]          // connector-less temp tables (0 rows)

    def baseCols(b: String): Vector[String] = "id" +: tcols.getOrElse(b, Vector())

    def valuesBody(c: Int): String =
      "SELECT v FROM (VALUES " + (1 to c).map(i => s"($i)").mkString(",") + ") AS t(v)"

    // a star view reads iff its base is alive AND still carries every
    // captured column; its count tracks the base's CURRENT rows, its
    // columns stay the CAPTURED list
    def resolve(d: VDef): Option[(Int, Option[Vector[String]])] = d match {
      case ValuesV(c) => Some((c, None))
      case StarV(b, cap) => tables.get(b) match {
        case Some((_, c)) if cap.forall(baseCols(b).contains) => Some((c, Some(cap)))
        case _ => None
      }
    }

    // None covers both "name unknown" and "known but broken star view" —
    // both read as an error page
    def expectedCount(s: Int, n: String): Option[(Int, Option[Vector[String]])] =
      temps.get((s, n)).map(resolve)
        .orElse(if (plains((s, n))) Some(Some((0, None))) else None)
        .orElse(views.get(n).map(resolve))
        .orElse(tables.get(n).map(t => Some((t._2, None))))
        .flatten

    var opLog = List.empty[String]
    def probe(s: Int, n: String, ctx: String): Unit = {
      val r = run(s, s"SELECT count(*) AS c FROM $n")
      def detail = s"(model: T=${tables.get(n)} V=${views.get(n)} L=${temps.get((s, n))} P=${plains((s, n))})\n" +
        s"recent ops:\n${opLog.filter(_.contains(n)).take(10).mkString("\n")}"
      expectedCount(s, n) match {
        case None => assert(isErr(r), s"$ctx: session $s sees dead name $n: ${r.rows} $detail")
        case Some((c, capOpt)) =>
          assert(!isErr(r) && r.rows.head.head.toString.toLong == c,
            s"$ctx: session $s name $n expected $c got ${r.rows} $detail")
          capOpt.foreach { cap =>
            // captured views answer SELECT * with the CAPTURED columns,
            // whatever the base evolved into since
            val star = run(s, s"SELECT * FROM $n")
            assert(!isErr(star) && star.columns == cap,
              s"$ctx: session $s star view $n columns ${star.columns} != captured $cap $detail")
          }
      }
    }
    (1 to soak(300)).foreach { step =>
      val s = rnd.nextInt(3)
      val n = names(rnd.nextInt(names.size))
      val op = rnd.nextInt(100)
      counter += 1
      val c = counter

      def exec(sql: String, expectErr: Boolean, onOk: => Unit): Unit = {
        opLog = s"[$step s$s] $sql" :: opLog
        val r = run(s, sql)
        assert(isErr(r) == expectErr,
          s"step $step session $s: `$sql` expected " +
            s"${if (expectErr) "ERROR" else "success"}, got ${r.rows}\n" +
            s"model: T=$tables V=$views L=$temps\nrecent:\n${opLog.take(8).mkString("\n")}")
        if (!isErr(r)) onOk
      }

      // base-table evolution (r15): the star-view capture surface. Runs as
      // its own family so every step has a chance to evolve a base under
      // whatever views captured it.
      if (rnd.nextInt(100) < 12) {
        val b = baseNames(rnd.nextInt(baseNames.size))
        rnd.nextInt(4) match {
          case 0 => // (re-)CREATE the base with a fresh row count
            exec(s"CREATE TABLE $b (id BIGINT) WITH " +
              s"('connector'='datagen','number-of-rows'='$c')",
              expectErr = tables.contains(b),
              onOk = { tables(b) = (false, c); tcols(b) = Vector() })
          case 1 => // ALTER ADD — captured views must NOT grow
            exec(s"ALTER TABLE $b ADD a$c BIGINT",
              expectErr = !tables.contains(b),
              onOk = tcols(b) = tcols.getOrElse(b, Vector()) :+ s"a$c")
          case 2 => // ALTER DROP an added column — views that captured it
            // keep their definition and ERROR at read (modeled in resolve)
            tcols.getOrElse(b, Vector()) match {
              case cols if cols.nonEmpty =>
                val victim = cols(rnd.nextInt(cols.size))
                exec(s"ALTER TABLE $b DROP $victim", expectErr = false,
                  onOk = tcols(b) = cols.filterNot(_ == victim))
              case _ =>
                exec(s"ALTER TABLE $b DROP a0", expectErr = true, onOk = ())
            }
          case _ => // DROP the base out from under its views
            exec(s"DROP TABLE $b", expectErr = !tables.contains(b),
              onOk = { tables -= b; tcols -= b })
        }
      } else if (op < 18) { // CREATE [TEMPORARY] TABLE ... WITH [IF NOT EXISTS]
        val temp = rnd.nextInt(4) == 0
        val ine = rnd.nextInt(3) == 0
        // the TEMPORARY form also conflicts with this session's local
        // temporary namespace (plain relations and temp views)
        val conflict = tables.contains(n) || views.contains(n) ||
          (temp && (plains((s, n)) || temps.contains((s, n))))
        exec(
          s"CREATE ${if (temp) "TEMPORARY " else ""}TABLE ${if (ine) "IF NOT EXISTS " else ""}$n " +
            s"(id BIGINT) WITH ('connector'='datagen','number-of-rows'='$c')",
          expectErr = conflict && !ine,
          onOk = if (!conflict) tables(n) = (temp, c))
      } else if (op < 31) { // DROP [TEMPORARY] TABLE [IF EXISTS]
        val temp = rnd.nextInt(3) == 0
        val ifEx = rnd.nextInt(3) == 0
        val sql = s"DROP ${if (temp) "TEMPORARY " else ""}TABLE ${if (ifEx) "IF EXISTS " else ""}$n"
        if (temp && plains((s, n)))
          // session temporary namespace resolves first
          exec(sql, expectErr = false, onOk = plains -= ((s, n)))
        else if (!temp && plains((s, n)))
          // Flink: a temporary TABLE shadow blocks DROP TABLE outright
          exec(sql, expectErr = true, onOk = ())
        else tables.get(n) match {
          case Some((isTemp, _)) =>
            if (temp && !isTemp) exec(sql, expectErr = !ifEx, onOk = ())
            else if (!temp && isTemp) exec(sql, expectErr = true, onOk = ())
            else exec(sql, expectErr = false, onOk = tables -= n)
          case None if views.contains(n) || temps.contains((s, n)) =>
            exec(sql, expectErr = true, onOk = ()) // cross-kind: named refusal
          case None =>
            exec(sql, expectErr = !ifEx, onOk = ())
        }
      } else if (op < 49) { // CREATE [OR REPLACE] VIEW / IF NOT EXISTS
        val orRepl = rnd.nextInt(3) == 0
        val ine = !orRepl && rnd.nextInt(3) == 0
        // ~40% of views are STAR CAPTURES over a base table; the base may
        // be dead (body fails to resolve -> named error, nothing created)
        val star = rnd.nextInt(10) < 4
        val base = baseNames(rnd.nextInt(baseNames.size))
        val (body, mkDef) =
          if (star) (s"SELECT * FROM $base",
            () => StarV(base, baseCols(base)): VDef)
          else (valuesBody(c), () => ValuesV(c): VDef)
        val sql = s"CREATE ${if (orRepl) "OR REPLACE " else ""}VIEW " +
          s"${if (ine) "IF NOT EXISTS " else ""}$n AS $body"
        if (tables.contains(n))
          exec(sql, expectErr = !ine, onOk = ())
        else {
          val exists = views.contains(n) || temps.contains((s, n)) || plains((s, n))
          // the body only EVALUATES when the statement neither refuses the
          // conflict nor no-ops on IF NOT EXISTS; a dead base then errors
          val bodyEval = !exists || orRepl
          val baseDead = star && !tables.contains(base)
          exec(sql, expectErr = (exists && !orRepl && !ine) || (bodyEval && baseDead),
            onOk = if (bodyEval && !baseDead) views(n) = mkDef())
        }
      } else if (op < 63) { // CREATE [OR REPLACE] TEMPORARY VIEW
        val orRepl = rnd.nextInt(3) == 0
        val star = rnd.nextInt(10) < 4
        val base = baseNames(rnd.nextInt(baseNames.size))
        val (body, mkDef) =
          if (star) (s"SELECT * FROM $base",
            () => StarV(base, baseCols(base)): VDef)
          else (valuesBody(c), () => ValuesV(c): VDef)
        val sql = s"CREATE ${if (orRepl) "OR REPLACE " else ""}TEMPORARY VIEW $n AS $body"
        val exists = temps.contains((s, n)) || plains((s, n))
        val bodyEval = !exists || orRepl
        val baseDead = star && !tables.contains(base)
        exec(sql, expectErr = (exists && !orRepl) || (bodyEval && baseDead),
          onOk = if (bodyEval && !baseDead) { temps((s, n)) = mkDef(); plains -= ((s, n)) })
      } else if (op < 73) { // DROP VIEW [IF EXISTS]
        val ifEx = rnd.nextInt(3) == 0
        val sql = s"DROP VIEW ${if (ifEx) "IF EXISTS " else ""}$n"
        if (plains((s, n)) && !views.contains(n))
          exec(sql, expectErr = true, onOk = ()) // cross-kind: temp table
        else if (plains((s, n)))
          // DROP VIEW targets the catalog view even under a temp-TABLE
          // shadow (Flink's kind filter lets the shadow pass)
          exec(sql, expectErr = false, onOk = views -= n)
        else if (temps.contains((s, n)))
          exec(sql, expectErr = true, onOk = ()) // ambiguous through shadow
        else if (tables.contains(n))
          exec(sql, expectErr = true, onOk = ()) // cross-kind
        else if (views.contains(n))
          exec(sql, expectErr = false, onOk = views -= n)
        else exec(sql, expectErr = !ifEx, onOk = ())
      } else if (op < 83) { // DROP TEMPORARY VIEW [IF EXISTS]
        val ifEx = rnd.nextInt(3) == 0
        val sql = s"DROP TEMPORARY VIEW ${if (ifEx) "IF EXISTS " else ""}$n"
        if (plains((s, n)) && !views.contains(n))
          exec(sql, expectErr = true, onOk = ()) // cross-kind: temp table
        else if (plains((s, n)))
          exec(sql, expectErr = !ifEx, onOk = ()) // catalog view behind the shadow
        else if (temps.contains((s, n)))
          exec(sql, expectErr = false, onOk = temps -= ((s, n)))
        else if (views.contains(n))
          exec(sql, expectErr = !ifEx, onOk = ()) // catalog view: named refusal
        else if (tables.contains(n))
          exec(sql, expectErr = true, onOk = ()) // cross-kind
        else exec(sql, expectErr = !ifEx, onOk = ())
      } else if (op < 90) { // CREATE TEMPORARY TABLE (connector-less plain relation)
        val ine = rnd.nextInt(3) == 0
        val sql = s"CREATE TEMPORARY TABLE ${if (ine) "IF NOT EXISTS " else ""}$n (x INT)"
        val conflict = plains((s, n)) || temps.contains((s, n)) ||
          tables.get(n).exists(_._1) // a TEMPORARY binding shares the namespace
        exec(sql, expectErr = conflict && !ine,
          onOk = if (!conflict) plains += ((s, n)))
      } else if (op < 96) { // ALTER TABLE RENAME
        val m = names(rnd.nextInt(names.size))
        val sql = s"ALTER TABLE $n RENAME TO $m"
        if (plains((s, n))) exec(sql, expectErr = true, onOk = ()) // shadowed source
        else if (!tables.contains(n)) exec(sql, expectErr = true, onOk = ())
        else if (tables.contains(m) || views.contains(m))
          exec(sql, expectErr = true, onOk = ())
        else exec(sql, expectErr = false, onOk = { tables(m) = tables(n); tables -= n })
      } else { // SELECT probe
        probe(s, n, s"step $step")
      }

      if (step % 30 == 0)
        for (si <- 0 until 3; nm <- names ++ baseNames) probe(si, nm, s"sweep@$step")
    }

    // terminal invariants: the engine's registries mirror the model exactly
    assert(TableEnv.bindings.keySet == tables.keySet.map(_.toLowerCase),
      s"registry drift: ${TableEnv.bindings.keySet} vs ${tables.keySet}")
    assert(TableEnv.catalogViews.keySet == views.keySet.map(_.toLowerCase),
      s"catalog-view drift: ${TableEnv.catalogViews.keySet} vs ${views.keySet}")
    hs.zipWithIndex.foreach { case (h, i) => gws(i).closeSession(h) }
  }

  test("concurrent namespace races: contended names never corrupt, errors stay named") {
    // 6 threads × 40 random DDL/query ops over a SHARED 3-name pool —
    // outcomes are racy by construction, so the assertions are the
    // invariants that must hold under ANY interleaving:
    //   (1) every failure is a NAMED refusal or analysis error, never an
    //       internal error (the check-then-act DDL paths must not corrupt);
    //   (2) after the storm, one cleanup pass per kind empties the
    //       namespace — no object survives its own DROP, no ghost binding
    //       or view definition leaks.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val names = Vector("race_x", "race_y", "race_z")
    val internal = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val nThreads = 6
    val pool = Executors.newFixedThreadPool(nThreads)
    val start = new CountDownLatch(1)
    val internalMarkers = Seq("MatchError", "NullPointerException",
      "IndexOutOfBounds", "ClassCastException", "ConcurrentModification",
      "StackOverflow", "IllegalStateException")
    (0 until nThreads).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          start.await()
          val h = gw.openSession(s"race_$i")
          val rnd = new Random(7700L + i)
          try (1 to 40).foreach { _ =>
            val n = names(rnd.nextInt(names.size))
            val m = names(rnd.nextInt(names.size))
            val sql = rnd.nextInt(9) match {
              case 0 => s"CREATE TABLE $n (id BIGINT) WITH ('connector'='datagen','number-of-rows'='3')"
              case 1 => s"CREATE TABLE IF NOT EXISTS $n (id BIGINT) WITH ('connector'='datagen','number-of-rows'='4')"
              case 2 => s"CREATE OR REPLACE VIEW $n AS SELECT 1 AS v"
              case 3 => s"CREATE OR REPLACE TEMPORARY VIEW $n AS SELECT 2 AS v"
              case 4 => s"DROP TABLE IF EXISTS $n"
              case 5 => s"DROP VIEW IF EXISTS $n"
              case 6 => s"DROP TEMPORARY VIEW IF EXISTS $n"
              case 7 => s"ALTER TABLE $n RENAME TO $m"
              case _ => s"SELECT count(*) AS c FROM $n"
            }
            val r = gw.fetchResults(gw.executeStatement(h, sql), 0)
            if (r.columns == Seq("error")) {
              val msg = r.rows.headOption.flatMap(_.headOption)
                .map(String.valueOf(_)).getOrElse("")
              if (msg.isEmpty || internalMarkers.exists(msg.contains))
                internal.add(s"t$i `$sql` -> $msg")
            }
          } finally gw.closeSession(h)
        } catch { case e: Throwable => failures.add(s"t$i crashed: $e") }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "race workers did not finish")
    assert(failures.isEmpty, s"worker crashes: ${failures.toArray.mkString("; ")}")
    assert(internal.isEmpty,
      s"internal errors surfaced: ${internal.toArray.mkString("\n")}")
    // cleanup pass: one DROP per kind per name empties the namespace
    val h = gw.openSession("race_cleanup")
    names.foreach { n =>
      Seq(s"DROP VIEW IF EXISTS $n", s"DROP TABLE IF EXISTS $n",
        s"DROP TEMPORARY TABLE IF EXISTS $n").foreach(s =>
        gw.fetchResults(gw.executeStatement(h, s), 0))
      val r = gw.fetchResults(gw.executeStatement(h, s"SELECT count(*) AS c FROM $n"), 0)
      assert(r.columns == Seq("error"), s"ghost survived cleanup: $n -> ${r.rows}")
    }
    assert(names.forall(n => TableEnv.lookup(n).isEmpty),
      s"binding leak: ${names.filter(n => TableEnv.lookup(n).isDefined)}")
    assert(names.forall(n => TableEnv.viewDef(n).isEmpty),
      s"catalog-view leak: ${names.filter(n => TableEnv.viewDef(n).isDefined)}")
    gw.closeSession(h)
  }

  test("session churn races scope release against cross-instance invalidation sweeps (r17)") {
    // The r16 split-topology fuzz holds its sessions STATIC. This variant
    // CLOSES one gateway's sessions mid-run while the OTHER gateway storms
    // namespace DDL on the shared registry, racing the closing sessions'
    // release of their temporary objects. Invariants under ANY interleaving:
    //   (1) no internal error, no worker crash;
    //   (2) a LIVE churned-in session always reads its OWN temp-view shadow
    //       (count 1, its VALUES body) whatever the storm does to the
    //       shared name — a sweep must never clobber a shadow, and a scope
    //       release must never take another session's shadow with it;
    //   (3) closed sessions leave nothing behind: after the storm neither
    //       gateway holds a session or a result handle, and no closed
    //       session's temp view resolves from a new one (the r16 ADVICE
    //       leak class).
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    for (seed <- Seq(9101L, 9102L, 9103L)) {
      TableEnv.clear()
      val gwA = new Gateway(spark)
      val gwB = new Gateway(spark)
      val internal = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val internalMarkers = Seq("MatchError", "NullPointerException",
        "IndexOutOfBounds", "ClassCastException", "ConcurrentModification",
        "StackOverflow", "NoSuchElementException")
      def exec(gw: Gateway, h: String, sql: String, tag: String): Option[String] = {
        val r = gw.fetchResults(gw.executeStatement(h, sql), 0)
        if (r.columns == Seq("error")) {
          val msg = r.rows.headOption.flatMap(_.headOption)
            .map(String.valueOf(_)).getOrElse("")
          if (msg.isEmpty || internalMarkers.exists(msg.contains))
            internal.add(s"$tag `$sql` -> $msg")
          None
        } else Some(r.rows.headOption.flatMap(_.headOption)
          .map(String.valueOf(_)).getOrElse(""))
      }
      val pool = Executors.newFixedThreadPool(3)
      val start = new CountDownLatch(1)
      // storm thread: gateway A churns the shared namespace — each op's
      // invalidation sweep iterates the live sessions of BOTH gateways
      pool.submit(new Runnable {
        def run(): Unit = try {
          start.await()
          val h = gwA.openSession("churn_storm")
          val rnd = new Random(seed)
          try (1 to 60).foreach { i =>
            val sql = rnd.nextInt(6) match {
              case 0 => s"CREATE OR REPLACE VIEW churn_x AS SELECT $i AS v"
              case 1 => "DROP VIEW IF EXISTS churn_x"
              case 2 => "CREATE TABLE IF NOT EXISTS churn_t (id BIGINT) WITH " +
                "('connector'='datagen','number-of-rows'='2')"
              case 3 => "ALTER TABLE churn_t RENAME TO churn_u"
              case 4 => "ALTER TABLE churn_u RENAME TO churn_t"
              case _ => "DROP TABLE IF EXISTS churn_t"
            }
            exec(gwA, h, sql, s"storm@$i")
          } finally gwA.closeSession(h)
        } catch { case e: Throwable => failures.add(s"storm crashed: $e") }
      })
      // churn threads: gateway B opens a session, shadows the contended
      // name, reads its OWN shadow under fire, closes — repeatedly
      (0 until 2).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            start.await()
            val rnd = new Random(seed * 31 + t)
            (1 to 12).foreach { round =>
              val h = gwB.openSession(s"churn_$t")
              try {
                exec(gwB, h, "CREATE TEMPORARY VIEW churn_x AS SELECT 42 AS v",
                  s"churn$t@$round")
                (1 to 4).foreach { p =>
                  if (rnd.nextInt(2) == 0) Thread.sleep(rnd.nextInt(4).toLong)
                  exec(gwB, h, "SELECT count(*) AS c FROM churn_x",
                    s"churn$t@$round probe$p").foreach { c =>
                    if (c != "1") failures.add(
                      s"churn$t@$round probe$p: shadow returned count $c, not 1")
                  }
                }
              } finally gwB.closeSession(h)
            }
          } catch { case e: Throwable => failures.add(s"churn$t crashed: $e") }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(300, TimeUnit.SECONDS),
        s"seed $seed: churn workers did not finish")
      assert(failures.isEmpty,
        s"seed $seed: ${failures.toArray.mkString("; ")}")
      assert(internal.isEmpty,
        s"seed $seed: internal errors:\n${internal.toArray.mkString("\n")}")
      // (3) every session closed -> the gateways' registries are empty
      assert(Seq(gwA, gwB).forall(g => g.liveSessionCount == 0 && g.liveOperationCount == 0),
        s"seed $seed: closed sessions leaked in the live-session registry")
      // cleanup for the next seed
      val h = gwA.openSession("churn_cleanup")
      Seq("DROP VIEW IF EXISTS churn_x", "DROP TABLE IF EXISTS churn_t",
        "DROP TABLE IF EXISTS churn_u").foreach(s =>
        gwA.fetchResults(gwA.executeStatement(h, s), 0))
      gwA.closeSession(h)
      // no closed session's temp view resolves from a new session
      val probe = gwB.openSession("churn_probe")
      assert(gwB.fetchResults(gwB.executeStatement(probe,
        "SELECT count(*) AS c FROM churn_x"), 0).columns == Seq("error"),
        s"seed $seed: a closed session's temp view resolves from a new session")
      gwB.closeSession(probe)
    }
  }

  test("session churn x TableEnv.clear(): full reset races eviction sweeps and scope release (r18)") {
    // The r17 churn fuzz never crossed TableEnv.clear(). This variant adds
    // a RESET thread that, mid-storm, walks a gateway's live sessions and
    // fires TableEnv.clear() — racing the storm's DDL and the churn
    // sessions' closes. Invariants under ANY interleaving:
    //   (1) no internal error, no worker crash — a statement reading maps
    //       that clear() is wiping must degrade to a named error, never
    //       throw through;
    //   (2) a churned-in session's shadow probe reads 1 UNLESS a clear()
    //       fired after the shadow was created (clear wipes scopes BY
    //       CONTRACT; a wrong read with no intervening clear is a bug);
    //   (3) after the storm, with every session closed and a final clear,
    //       neither gateway holds a session or a result handle, and no
    //       closed session's temp view resolves from a new one.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    for (seed <- Seq(8201L, 8202L, 8203L)) {
      TableEnv.clear()
      val gwA = new Gateway(spark)
      val gwB = new Gateway(spark)
      val internal = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      // clear() INTERVALS [start, end]: a point timestamp taken before the
      // call misses the clear that STARTS before a shadow's creation but
      // wipes it after (start < createdAt <= end) — a rare false failure
      // under contention (r18 ADVICE)
      val clears = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val internalMarkers = Seq("MatchError", "NullPointerException",
        "IndexOutOfBounds", "ClassCastException", "ConcurrentModification",
        "StackOverflow", "NoSuchElementException")
      def exec(gw: Gateway, h: String, sql: String, tag: String): Option[String] = {
        val r = gw.fetchResults(gw.executeStatement(h, sql), 0)
        if (r.columns == Seq("error")) {
          val msg = r.rows.headOption.flatMap(_.headOption)
            .map(String.valueOf(_)).getOrElse("")
          if (msg.isEmpty || internalMarkers.exists(msg.contains))
            internal.add(s"$tag `$sql` -> $msg")
          None
        } else Some(r.rows.headOption.flatMap(_.headOption)
          .map(String.valueOf(_)).getOrElse(""))
      }
      val pool = Executors.newFixedThreadPool(4)
      val start = new CountDownLatch(1)
      val stormDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      // storm thread: gateway A churns the shared namespace
      pool.submit(new Runnable {
        def run(): Unit = try {
          start.await()
          val rnd = new Random(seed)
          (1 to 5).foreach { batch =>
            // RE-OPEN per batch: a clear() may have dropped this session's
            // registration mid-run; fresh handles keep the storm stormy
            val h = gwA.openSession(s"clrstorm_$batch")
            try (1 to 12).foreach { i =>
              val sql = rnd.nextInt(6) match {
                case 0 => s"CREATE OR REPLACE VIEW clr_x AS SELECT $i AS v"
                case 1 => "DROP VIEW IF EXISTS clr_x"
                case 2 => "CREATE TABLE IF NOT EXISTS clr_t (id BIGINT) WITH " +
                  "('connector'='datagen','number-of-rows'='2')"
                case 3 => "ALTER TABLE clr_t RENAME TO clr_u"
                case 4 => "ALTER TABLE clr_u RENAME TO clr_t"
                case _ => "DROP TABLE IF EXISTS clr_t"
              }
              exec(gwA, h, sql, s"storm@$batch.$i")
            } finally gwA.closeSession(h)
          }
        } catch { case e: Throwable => failures.add(s"storm crashed: $e") }
        finally stormDone.set(true)
      })
      // reset thread: walks the eviction path, then fires the full reset
      pool.submit(new Runnable {
        def run(): Unit = try {
          start.await()
          val rnd = new Random(seed * 17)
          while (!stormDone.get()) {
            Thread.sleep((2 + rnd.nextInt(10)).toLong)
            gwB.liveSessionCount: Unit // live-session walk
            if (rnd.nextInt(3) == 0) {
              val t0 = System.nanoTime()
              TableEnv.clear()
              clears.add((t0, System.nanoTime()))
            }
          }
        } catch { case e: Throwable => failures.add(s"reset crashed: $e") }
      })
      // churn threads: open, shadow, probe own shadow under fire, close
      (0 until 2).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            start.await()
            val rnd = new Random(seed * 31 + t)
            (1 to 10).foreach { round =>
              val h = gwB.openSession(s"clrchurn_$t")
              try {
                val createdAt = System.nanoTime()
                exec(gwB, h, "CREATE TEMPORARY VIEW clr_x AS SELECT 42 AS v",
                  s"churn$t@$round")
                (1 to 3).foreach { pn =>
                  if (rnd.nextInt(2) == 0) Thread.sleep(rnd.nextInt(4).toLong)
                  val got = exec(gwB, h, "SELECT count(*) AS c FROM clr_x",
                    s"churn$t@$round probe$pn")
                  val probedAt = System.nanoTime()
                  got.foreach { c =>
                    if (c != "1") {
                      // legitimate ONLY if a clear()'s [start, end] interval
                      // overlaps [createdAt, probedAt] — interval overlap,
                      // not point containment, so a clear in flight across
                      // the creation boundary still counts
                      val cleared = clears.toArray(Array.empty[(Long, Long)])
                        .exists { case (s0, e0) => s0 <= probedAt && e0 >= createdAt }
                      if (!cleared) failures.add(
                        s"churn$t@$round probe$pn: shadow read $c with no intervening clear")
                    }
                  }
                }
              } finally gwB.closeSession(h)
            }
          } catch { case e: Throwable => failures.add(s"churn$t crashed: $e") }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(300, TimeUnit.SECONDS),
        s"seed $seed: clear-race workers did not finish")
      assert(failures.isEmpty,
        s"seed $seed: ${failures.toArray.mkString("; ")}")
      assert(internal.isEmpty,
        s"seed $seed: internal errors:\n${internal.toArray.mkString("\n")}")
      // (3) everything closed + a final reset -> registries empty
      TableEnv.clear()
      assert(Seq(gwA, gwB).forall(g => g.liveSessionCount == 0 && g.liveOperationCount == 0),
        s"seed $seed: sessions survived close + clear")
      val h = gwA.openSession("clr_cleanup")
      Seq("DROP VIEW IF EXISTS clr_x", "DROP TABLE IF EXISTS clr_t",
        "DROP TABLE IF EXISTS clr_u").foreach(s =>
        gwA.fetchResults(gwA.executeStatement(h, s), 0))
      gwA.closeSession(h)
      // no closed session's temp view resolves from a new session
      val probe = gwB.openSession("clr_probe")
      assert(gwB.fetchResults(gwB.executeStatement(probe,
        "SELECT count(*) AS c FROM clr_x"), 0).columns == Seq("error"),
        s"seed $seed: a closed session's temp view resolves from a new session")
      gwB.closeSession(probe)
      TableEnv.clear()
    }
  }

  test("namespace storm against live streaming writers: jobs keep committing, errors stay named") {
    // Composition of the two r12 campaigns: the DDL race storm runs over a
    // name pool that INCLUDES the source and sink bindings of RUNNING
    // streaming INSERT jobs. Jobs are cluster-owned compiled topologies
    // (the directed contract in ConcurrencySpec): no interleaving of
    // CREATE/DROP/RENAME/REPLACE over their names may kill the writer,
    // stall its commits, or surface an internal error. Job 2's bindings
    // stay OUT of the pool as the undisturbed control.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val runDir = s"/tmp/graft-nsstorm-${java.util.UUID.randomUUID()}"
    val ctl = gw.openSession("storm_ctl")
    def run(h: String, s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    try {
      val jobs = (0 until 3).map { j =>
        run(ctl, s"CREATE TABLE storm_src_$j (id BIGINT, v DOUBLE) WITH " +
          "('connector'='datagen','rows-per-second'='100')")
        run(ctl, s"CREATE TABLE storm_snk_$j (id BIGINT, v DOUBLE) WITH " +
          s"('connector'='filesystem','path'='$runDir/sink_$j'," +
          s"'format'='parquet','checkpoint'='$runDir/ckpt_$j')")
        val msg = run(ctl, s"INSERT INTO storm_snk_$j SELECT id, v FROM storm_src_$j")
          .rows.head.head.toString
        "Job (\\S+) started".r.findFirstMatchIn(msg)
          .getOrElse(fail(s"job $j: unexpected INSERT result '$msg'")).group(1)
      }
      // committed rows by PATH (metadata-log-aware), independent of whatever
      // the storm does to the catalog names
      def committed(j: Int): Long =
        try spark.read.parquet(s"$runDir/sink_$j").count()
        catch { case _: Exception => 0L }
      var deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while ((0 until 3).exists(committed(_) == 0) && System.nanoTime() < deadline)
        Thread.sleep(250)
      (0 until 3).foreach(j => assert(committed(j) > 0, s"job $j never committed"))
      val before = (0 until 3).map(committed)

      // the storm: live names 0 and 1 plus two free names
      val names = Vector("storm_src_0", "storm_snk_0", "storm_src_1", "storm_snk_1",
        "storm_free_a", "storm_free_b")
      val internal = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val crashes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val internalMarkers = Seq("MatchError", "NullPointerException",
        "IndexOutOfBounds", "ClassCastException", "ConcurrentModification",
        "StackOverflow", "IllegalStateException")
      val nThreads = 6
      val pool = Executors.newFixedThreadPool(nThreads)
      val start = new CountDownLatch(1)
      (0 until nThreads).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            start.await()
            val h = gw.openSession(s"storm_$i")
            val rnd = new Random(9900L + i)
            try (1 to 40).foreach { _ =>
              val n = names(rnd.nextInt(names.size))
              val m = names(rnd.nextInt(names.size))
              val sql = rnd.nextInt(9) match {
                case 0 => s"CREATE TABLE $n (id BIGINT) WITH ('connector'='datagen','number-of-rows'='3')"
                case 1 => s"CREATE TABLE IF NOT EXISTS $n (id BIGINT) WITH ('connector'='datagen','number-of-rows'='4')"
                case 2 => s"CREATE OR REPLACE VIEW $n AS SELECT 1 AS v"
                case 3 => s"CREATE OR REPLACE TEMPORARY VIEW $n AS SELECT 2 AS v"
                case 4 => s"DROP TABLE IF EXISTS $n"
                case 5 => s"DROP VIEW IF EXISTS $n"
                case 6 => s"DROP TEMPORARY VIEW IF EXISTS $n"
                case 7 => s"ALTER TABLE $n RENAME TO $m"
                case _ => s"SELECT count(*) AS c FROM $n"
              }
              val r = gw.fetchResults(gw.executeStatement(h, sql), 0)
              if (r.columns == Seq("error")) {
                val msg = r.rows.headOption.flatMap(_.headOption)
                  .map(String.valueOf(_)).getOrElse("")
                if (msg.isEmpty || internalMarkers.exists(msg.contains))
                  internal.add(s"t$i `$sql` -> $msg")
              }
            } finally gw.closeSession(h)
          } catch { case e: Throwable => crashes.add(s"t$i crashed: $e") }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(180, TimeUnit.SECONDS), "storm workers did not finish")
      assert(crashes.isEmpty, s"worker crashes: ${crashes.toArray.mkString("; ")}")
      assert(internal.isEmpty,
        s"internal errors surfaced: ${internal.toArray.mkString("\n")}")

      // every job survived whatever the storm did to its catalog names...
      jobs.zipWithIndex.foreach { case (job, j) =>
        val st = Jobs.list().find(_.name == job).map(_.status)
        assert(st.contains("RUNNING"), s"job $j ($job) after storm: $st")
      }
      // ...and is still COMMITTING fresh data, stormed and control alike
      deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while ((0 until 3).exists(j => committed(j) <= before(j)) &&
        System.nanoTime() < deadline) Thread.sleep(250)
      (0 until 3).foreach(j => assert(committed(j) > before(j),
        s"job $j stopped committing after the storm (${before(j)} -> ${committed(j)})"))
      // clean stop through the gateway; terminal states stick
      jobs.foreach(job => run(ctl, s"STOP JOB '$job'"))
      jobs.foreach(job =>
        assert(Jobs.list().find(_.name == job).map(_.status).contains("CANCELED"),
          s"job $job not CANCELED after STOP JOB"))
    } finally {
      Jobs.stopAll()
      gw.closeSession(ctl)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(runDir))
    }
  }
}
