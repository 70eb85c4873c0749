package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.util.{Failure, Success, Try}
import graft.engine.Gateway

/** Concurrent-session isolation (r11): the reference client opens several
  * gateway sessions at once (one per editor panel), so the engine's
  * session model — `SparkSession.newSession()` per gateway session,
  * shared binding registry, per-op synchronized paging — must hold under
  * genuine thread overlap, not just sequential specs.
  *
  * Each worker thread gets its own session and, behind a start barrier:
  * sets a session-scoped conf, creates a temp view NAMED THE SAME in every
  * session but holding its own value, queries it back through the paged
  * protocol, and re-reads its conf. Any cross-talk (another session's
  * view content or conf value) or internal error fails the case. */
class ConcurrencySpec extends SparkTestBase {

  test("8 concurrent sessions: same-named temp views and confs stay isolated") {
    val gw = new Gateway(spark)
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Try[Unit]]()
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          results.put(i, Try {
            start.await()
            val h = gw.openSession(s"concurrent_$i")
            try {
              (0 until 5).foreach { round =>
                gw.executeStatement(h, s"SET 'graft.spec.worker' = 'w$i-r$round'")
                // re-creating an existing temp view is a CONFLICT in Flink
                // semantics (pinned in EngineSpec), so each round drops its
                // predecessor — which also exercises concurrent DROP VIEW
                gw.executeStatement(h, "DROP TEMPORARY VIEW IF EXISTS shared_name")
                gw.executeStatement(h,
                  s"CREATE TEMPORARY VIEW shared_name AS SELECT $i AS worker, $round AS round")
                val page = gw.fetchResults(
                  gw.executeStatement(h, "SELECT worker, round FROM shared_name"), 0)
                assert(page.rows == Seq(Seq(i, round)),
                  s"worker $i round $round saw ${page.rows}")
                val conf = gw.fetchResults(
                  gw.executeStatement(h, "SET"), 0)
                val mine = conf.rows.collect {
                  case Seq(k, v) if k.toString == "graft.spec.worker" => v.toString
                }
                assert(mine.forall(_ == s"w$i-r$round"),
                  s"worker $i round $round conf leak: $mine")
              }
            } finally gw.closeSession(h)
          })
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "workers did not finish")
    (0 until n).foreach { i =>
      results.get(i) match {
        case Success(_) => ()
        case Failure(e) => fail(s"worker $i failed: $e")
        case null => fail(s"worker $i never ran")
      }
    }
  }

  test("temp-view scoping: shadow, scope-exact drop, close purges definitions") {
    val gw = new Gateway(spark)
    val a = gw.openSession("scope_a")
    val b = gw.openSession("scope_b")
    def run(h: String, s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    // session A publishes a catalog view; session B may SHADOW it with a
    // temporary view of the same name (Flink semantics — pre-r12 the
    // exists-check's catalog fallback rejected the shadow)
    assert(run(a, "CREATE VIEW scoped_v AS SELECT 1 AS x").columns != Seq("error"))
    assert(run(b, "CREATE TEMPORARY VIEW scoped_v AS SELECT 2 AS x").columns != Seq("error"),
      "temporary view must shadow a same-named catalog view")
    assert(run(b, "SHOW CREATE VIEW scoped_v").rows.head.mkString.contains("TEMPORARY"))
    // plain DROP VIEW through the shadow is ambiguous — named refusal
    val refusal = run(b, "DROP VIEW scoped_v")
    assert(refusal.columns == Seq("error") &&
      refusal.rows.head.mkString.contains("DROP TEMPORARY VIEW"), refusal.rows)
    // DROP TEMPORARY VIEW removes ONLY B's definition: the shared catalog
    // view must survive (pre-r12 the "" fallback deleted it for everyone)
    assert(run(b, "DROP TEMPORARY VIEW scoped_v").columns != Seq("error"))
    assert(!run(a, "SHOW CREATE VIEW scoped_v").rows.head.mkString.contains("TEMPORARY"),
      "B's DROP TEMPORARY VIEW erased the shared catalog view")
    // with no session-scoped definition left, DROP TEMPORARY VIEW is a
    // named error (and IF EXISTS a no-op)
    val gone = run(b, "DROP TEMPORARY VIEW scoped_v")
    assert(gone.columns == Seq("error") &&
      gone.rows.head.mkString.contains("does not exist in this session"), gone.rows)
    assert(run(b, "DROP TEMPORARY VIEW IF EXISTS scoped_v").columns != Seq("error"))
    // DROP TEMPORARY VIEW must not destroy a session's materialization of
    // a CATALOG view (the only local relation of that name) — A created
    // the catalog view, so in A the statement is a named refusal
    val cat = run(a, "DROP TEMPORARY VIEW scoped_v")
    assert(cat.columns == Seq("error") &&
      cat.rows.head.mkString.contains("catalog view"), cat.rows)
    assert(run(a, "SELECT x FROM scoped_v").rows == Seq(Seq(1)),
      "catalog view materialization must survive the refused drop")
    // catalog views are CLUSTER objects: readable from any session via
    // lazy materialization (r12 review finding — previously only the
    // creating session could SELECT them), and B's un-shadowing drop above
    // restored the catalog body locally
    assert(run(b, "SELECT x FROM scoped_v").rows == Seq(Seq(1)),
      "un-shadow must restore the catalog view's materialization")
    val c = gw.openSession("scope_c")
    assert(run(c, "SELECT x FROM scoped_v").rows == Seq(Seq(1)),
      "catalog view unreadable from a session that never created it")
    // a redefinition propagates to every session on next reference
    assert(run(c, "CREATE OR REPLACE VIEW scoped_v AS SELECT 5 AS x").columns != Seq("error"))
    assert(run(a, "SELECT x FROM scoped_v").rows == Seq(Seq(5)),
      "catalog view redefinition must propagate to other sessions")
    // OR REPLACE issued THROUGH a local shadow updates only the catalog
    // definition; the shadow keeps winning locally until dropped
    assert(run(b, "CREATE TEMPORARY VIEW scoped_v AS SELECT 7 AS x").columns != Seq("error"))
    assert(run(b, "CREATE OR REPLACE VIEW scoped_v AS SELECT 6 AS x").columns != Seq("error"))
    assert(run(b, "SELECT x FROM scoped_v").rows == Seq(Seq(7)),
      "shadow must win locally over the catalog redefinition it issued")
    assert(run(b, "SHOW CREATE VIEW scoped_v").rows.head.mkString.contains("TEMPORARY"))
    assert(run(a, "SELECT x FROM scoped_v").rows == Seq(Seq(6)),
      "catalog body must update for other sessions")
    assert(run(b, "DROP TEMPORARY VIEW scoped_v").columns != Seq("error"))
    assert(run(b, "SELECT x FROM scoped_v").rows == Seq(Seq(6)),
      "un-shadow must surface the LATEST catalog body")
    // a temporary view may shadow a BINDING name too — the per-reference
    // binding refresh must not clobber it
    assert(run(a, "CREATE TABLE shadow_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='3')").columns != Seq("error"))
    assert(run(c, "CREATE TEMPORARY VIEW shadow_t AS SELECT 42 AS id").columns != Seq("error"))
    assert(run(c, "SELECT id FROM shadow_t").rows == Seq(Seq(42)),
      "binding refresh clobbered a session's temporary shadow")
    assert(run(a, "SELECT count(*) AS n FROM shadow_t").rows == Seq(Seq(3L)))
    run(a, "DROP TABLE shadow_t")
    // the dropped binding is gone from the registry and from every
    // session's catalog — it must not resurrect on reference (pre-r12 DROP
    // TABLE left the registry entry answering SHOW CREATE TABLE forever)
    assert(run(a, "SELECT count(*) AS n FROM shadow_t").columns == Seq("error"),
      "dropped binding resurrected by the visibility mechanism")
    assert(run(a, "SHOW CREATE TABLE shadow_t").columns == Seq("error"),
      "dropped binding still answers SHOW CREATE TABLE")
    // …while C's same-named temporary view (a separate object) survives
    assert(run(c, "SELECT id FROM shadow_t").rows == Seq(Seq(42)))
    // keyword and binding temporariness must agree, both directions
    // (Flink's CatalogManager refuses the cross-drop)
    assert(run(a, "CREATE TABLE cross_perm (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='1')").columns != Seq("error"))
    assert(run(a, "CREATE TEMPORARY TABLE cross_temp (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='1')").columns != Seq("error"))
    val xp = run(a, "DROP TEMPORARY TABLE cross_perm")
    assert(xp.columns == Seq("error") &&
      xp.rows.head.mkString.contains("not temporary"), xp.rows)
    assert(run(a, "DROP TEMPORARY TABLE IF EXISTS cross_perm").columns != Seq("error"),
      "IF EXISTS must downgrade the refused cross-drop to a no-op")
    assert(run(a, "SELECT count(*) AS n FROM cross_perm").rows == Seq(Seq(1L)),
      "refused DROP TEMPORARY TABLE must leave the permanent binding intact")
    val xt = run(a, "DROP TABLE cross_temp")
    assert(xt.columns == Seq("error") &&
      xt.rows.head.mkString.contains("DROP TEMPORARY TABLE"), xt.rows)
    assert(run(a, "DROP TEMPORARY TABLE cross_temp").columns != Seq("error"))
    assert(run(a, "DROP TABLE cross_perm").columns != Seq("error"))
    assert(run(a, "SHOW CREATE TABLE cross_temp").columns == Seq("error"))
    // ALTER TABLE RENAME: the old name must die in EVERY session (same
    // ghost class as DROP), and renaming onto an existing object refuses
    assert(run(a, "CREATE TABLE ren_src (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='2')").columns != Seq("error"))
    assert(run(b, "SELECT count(*) AS n FROM ren_src").rows == Seq(Seq(2L)),
      "binding unreadable from the other session before rename")
    val renConflict = run(a, "ALTER TABLE ren_src RENAME TO scoped_v")
    assert(renConflict.columns == Seq("error") &&
      renConflict.rows.head.mkString.contains("already exists"), renConflict.rows)
    assert(run(a, "ALTER TABLE ren_src RENAME TO ren_dst").columns != Seq("error"))
    assert(run(b, "SELECT count(*) AS n FROM ren_src").columns == Seq("error"),
      "renamed-away binding still readable as a ghost in another session")
    assert(run(b, "SELECT count(*) AS n FROM ren_dst").rows == Seq(Seq(2L)),
      "renamed binding unreadable under its new name from another session")
    assert(run(a, "DROP TABLE ren_dst").columns != Seq("error"))
    // plain re-CREATE on a live binding refuses (pre-r12 it silently
    // replaced the table under every other session); IF NOT EXISTS no-ops
    // and leaves the existing binding untouched
    assert(run(a, "CREATE TABLE conflict_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='1')").columns != Seq("error"))
    val dup = run(b, "CREATE TABLE conflict_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='9')")
    assert(dup.columns == Seq("error") &&
      dup.rows.head.mkString.contains("already exists"), dup.rows)
    assert(run(b, "CREATE TABLE IF NOT EXISTS conflict_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='9')").columns != Seq("error"))
    assert(run(b, "SELECT count(*) AS n FROM conflict_t").rows == Seq(Seq(1L)),
      "IF NOT EXISTS must not replace the existing binding")
    assert(run(a, "DROP TABLE conflict_t").columns != Seq("error"))
    // plain DROP VIEW removes the materialization in EVERY session — a
    // dropped cluster object must not stay readable as a ghost elsewhere
    assert(run(a, "DROP VIEW scoped_v").columns != Seq("error"))
    assert(run(b, "SELECT x FROM scoped_v").columns == Seq("error"),
      "dropped catalog view still readable in another session")
    gw.closeSession(c)
    // closeSession takes the session's temporary objects with it — without
    // that a long-lived gateway leaks one entry per dead temp view
    assert(run(b, "CREATE TEMPORARY VIEW purge_me AS SELECT 3 AS x").columns != Seq("error"))
    assert(run(b, "SELECT x FROM purge_me").rows == Seq(Seq(3)))
    gw.closeSession(b)
    val d = gw.openSession("scope_d")
    assert(run(d, "SELECT x FROM purge_me").columns == Seq("error"),
      "closed session's temp view must not resolve from a new session")
    gw.closeSession(d)
    gw.closeSession(a)
    assert(gw.liveSessionCount == 0 && gw.liveOperationCount == 0,
      "closed sessions must leave nothing in the gateway's registries")
  }

  test("8 sessions soak the streaming lifecycle: INSERT jobs, STOP JOB, close with live jobs") {
    // The reference's session/job model (sessionManager.ts:257-288,
    // jobsProvider.ts:63-77): many editor sessions each submit streaming
    // INSERT jobs, stop some, and may disappear while their jobs run —
    // jobs belong to the shared cluster, not the session. Soaks the Jobs
    // registry, startStreamingInsert, STOP JOB routing, and closeSession
    // under genuine overlap: 8 sessions' jobs checkpoint under one shared
    // parent, even workers stop their own job, odd workers close their
    // session FIRST and a control session must still see and stop the
    // orphaned job afterwards.
    val gw = new Gateway(spark)
    val runDir = s"/tmp/graft-soak-${java.util.UUID.randomUUID()}"
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Try[String]]()
    def jobsPage(h: String) = gw.fetchResults(gw.executeStatement(h, "SHOW JOBS"), 0)
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          results.put(i, Try {
            start.await()
            val h = gw.openSession(s"soak_$i")
            gw.executeStatement(h,
              s"CREATE TABLE soak_src_$i (id BIGINT, v DOUBLE) WITH " +
                "('connector'='datagen','rows-per-second'='100')")
            gw.executeStatement(h,
              s"CREATE TABLE soak_sink_$i (id BIGINT, v DOUBLE) WITH " +
                s"('connector'='filesystem','path'='$runDir/sink_$i'," +
                s"'format'='parquet','checkpoint'='$runDir/ckpt_$i')")
            val msg = gw.fetchResults(gw.executeStatement(h,
              s"INSERT INTO soak_sink_$i SELECT id, v FROM soak_src_$i"), 0)
              .rows.head.head.toString
            val job = "Job (\\S+) started".r.findFirstMatchIn(msg)
              .getOrElse(fail(s"worker $i: unexpected INSERT result '$msg'"))
              .group(1)
            // the job must be visible as RUNNING through ANY session's
            // SHOW JOBS (shared registry), and must commit real data
            val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
            def running() = jobsPage(h).rows.exists(r =>
              r(1).toString == job && r(2).toString == "RUNNING")
            // committed rows through the real (metadata-log-aware) read
            // path — a part- file on disk can belong to an uncommitted
            // in-flight batch that a stop aborts
            def committed() =
              (try gw.fetchResults(gw.executeStatement(h,
                  s"SELECT count(*) AS n FROM soak_sink_$i"), 0)
                .rows.head.head.toString.toLong
               catch { case _: Exception => 0L }) > 0
            while ((!running() || !committed()) && System.nanoTime() < deadline)
              Thread.sleep(250)
            assert(running(), s"worker $i: job $job never showed RUNNING")
            assert(committed(), s"worker $i: job $job committed no rows")
            if (i % 2 == 0) {
              // stop through the gateway, then verify the terminal status
              val stopMsg = gw.fetchResults(
                gw.executeStatement(h, s"STOP JOB '$job'"), 0).rows.head.head.toString
              assert(!stopMsg.toLowerCase.contains("error"), s"worker $i: $stopMsg")
              assert(jobsPage(h).rows.exists(r =>
                r(1).toString == job && r(2).toString == "CANCELED"),
                s"worker $i: job $job not CANCELED after STOP JOB")
              gw.closeSession(h)
            } else {
              // close the session with the job still live — the job must
              // survive (cluster-owned) for the control session to adopt
              gw.closeSession(h)
            }
            job
          })
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "soak workers did not finish")
    val jobs = (0 until n).map { i =>
      results.get(i) match {
        case Success(job) => i -> job
        case Failure(e) => fail(s"worker $i failed: $e")
        case null => fail(s"worker $i never ran")
      }
    }.toMap
    // control session: the odd workers' jobs outlived their sessions —
    // still RUNNING, still stoppable by name from a different session
    val ctl = gw.openSession("soak_ctl")
    jobs.filter(_._1 % 2 == 1).foreach { case (i, job) =>
      assert(jobsPage(ctl).rows.exists(r =>
        r(1).toString == job && r(2).toString == "RUNNING"),
        s"orphaned job $job (worker $i) not RUNNING in the control session")
      gw.executeStatement(ctl, s"STOP JOB '$job'")
    }
    // convergence: every soak job is terminal, none active
    val finals = jobsPage(ctl).rows
      .filter(r => jobs.values.toSet.contains(r(1).toString))
    assert(finals.size == n, s"expected $n soak jobs in history, got ${finals.size}")
    finals.foreach(r => assert(r(2).toString == "CANCELED",
      s"job ${r(1)} ended ${r(2)}, expected CANCELED"))
    // every sink holds committed rows readable as a batch table
    (0 until n).foreach { i =>
      val cnt = gw.fetchResults(gw.executeStatement(ctl,
        s"SELECT count(*) AS n FROM soak_sink_$i"), 0).rows.head.head.toString.toLong
      assert(cnt > 0, s"sink $i empty after its job was stopped")
      gw.executeStatement(ctl, s"DROP TABLE soak_sink_$i")
      gw.executeStatement(ctl, s"DROP TABLE soak_src_$i")
    }
    gw.closeSession(ctl)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(runDir))
  }

  test("concurrent DDL on the shared binding registry is safe and convergent") {
    val gw = new Gateway(spark)
    val n = 6
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Try[Unit]]()
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          results.put(i, Try {
            start.await()
            val h = gw.openSession(s"ddl_$i")
            try {
              // per-worker table names: the registry (shared, Flink catalog
              // semantics) must absorb interleaved create/drop without
              // corrupting other workers' bindings
              (0 until 4).foreach { r =>
                gw.executeStatement(h,
                  s"CREATE TABLE conc_t_${i}_$r (id BIGINT) WITH " +
                    "('connector'='datagen','number-of-rows'='3')")
                val p = gw.fetchResults(
                  gw.executeStatement(h, s"SELECT count(*) AS n FROM conc_t_${i}_$r"), 0)
                assert(p.rows == Seq(Seq(3L)), s"worker $i/$r got ${p.rows}")
                gw.executeStatement(h, s"DROP TABLE conc_t_${i}_$r")
              }
            } finally gw.closeSession(h)
          })
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "workers did not finish")
    (0 until n).foreach { i =>
      results.get(i) match {
        case Success(_) => ()
        case Failure(e) => fail(s"worker $i failed: $e")
        case null => fail(s"worker $i never ran")
      }
    }
    // registry converged: every worker's tables are gone
    val h = gw.openSession("ddl_check")
    val p = gw.fetchResults(gw.executeStatement(h, "SHOW TABLES"), 0)
    val leftover = p.rows.map(_.mkString).filter(_.contains("conc_t_"))
    assert(leftover.isEmpty, s"leaked bindings: $leftover")
    gw.closeSession(h)
  }

  test("lifecycle verbs against a binding with a live streaming writer") {
    // Flink's jobs are COMPILED topologies owned by the cluster: dropping
    // a catalog table does not touch a running job that reads or writes
    // it. The catalog object dies, the writer keeps committing, and a
    // re-created binding over the same path sees the orphan's output.
    graft.engine.TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("live_a")
    val b = gw.openSession("live_b")
    def run(h: String, s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    val runDir = s"/tmp/graft-live-${java.util.UUID.randomUUID()}"
    val sinkDdl = "CREATE TABLE live_snk (id BIGINT, v DOUBLE) WITH " +
      s"('connector'='filesystem','path'='$runDir/snk','format'='parquet'," +
      s"'checkpoint'='$runDir/ckpt')"
    assert(run(a, "CREATE TABLE live_src (id BIGINT, v DOUBLE) WITH " +
      "('connector'='datagen','rows-per-second'='200')").columns != Seq("error"))
    assert(run(a, sinkDdl).columns != Seq("error"))
    val msg = run(a, "INSERT INTO live_snk SELECT id, v FROM live_src").rows.head.head.toString
    val job = "Job (\\S+) started".r.findFirstMatchIn(msg)
      .getOrElse(fail(s"unexpected INSERT result '$msg'")).group(1)
    def running() = run(b, "SHOW JOBS").rows.exists(r =>
      r(1).toString == job && r(2).toString == "RUNNING")
    def count(h: String) =
      try run(h, "SELECT count(*) AS n FROM live_snk").rows.head.head.toString.toLong
      catch { case _: Exception => -1L }
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while ((count(b) <= 0 || !running()) && System.nanoTime() < deadline)
      Thread.sleep(250)
    assert(running(), "job never showed RUNNING")
    assert(count(b) > 0, "writer committed nothing")
    try {
      // dropping the SOURCE binding leaves the job running (its plan was
      // compiled at submit time)
      assert(run(b, "DROP TABLE live_src").columns != Seq("error"))
      assert(running(), "job died when its source binding was dropped")
      // dropping the SINK binding: catalog object gone everywhere, job
      // still writing
      assert(run(b, "DROP TABLE live_snk").columns != Seq("error"))
      assert(run(a, "SHOW CREATE TABLE live_snk").columns == Seq("error"),
        "dropped sink still answers SHOW CREATE TABLE")
      assert(run(a, "SELECT count(*) AS n FROM live_snk").columns == Seq("error"),
        "dropped sink still readable")
      assert(running(), "job died when its sink binding was dropped")
      // a re-created binding over the same path adopts the orphan's output
      assert(run(b, sinkDdl).columns != Seq("error"))
      val before = count(a)
      assert(before > 0, "re-created binding sees no data")
      val deadline2 = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (count(a) <= before && System.nanoTime() < deadline2) Thread.sleep(250)
      assert(count(a) > before, "orphan writer stopped committing after the drop")
    } finally {
      run(a, s"STOP JOB '$job'")
      graft.engine.Jobs.stopAll()
    }
    assert(run(b, "SHOW JOBS").rows.exists(r =>
      r(1).toString == job && r(2).toString != "RUNNING"), "job not stopped")
    run(a, "DROP TABLE IF EXISTS live_snk")
    gw.closeSession(a); gw.closeSession(b)
  }

  test("r12 review scenarios: indirect view deps, rename shadows, plain temp tables, ALTER SET propagation") {
    graft.engine.TableEnv.clear()
    val gw = new Gateway(spark)
    val a = gw.openSession("rev_a")
    val b = gw.openSession("rev_b")
    def run(h: String, s: String) = gw.fetchResults(gw.executeStatement(h, s), 0)
    // (1) a catalog view over a BINDING is readable from a session that
    // never referenced the binding: the visibility scan must close over
    // the view definition's names, not just the statement's
    assert(run(a, "CREATE TABLE rev_base (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='3')").columns != Seq("error"))
    assert(run(a, "CREATE VIEW rev_v AS SELECT id FROM rev_base").columns != Seq("error"))
    assert(run(b, "SELECT count(*) AS n FROM rev_v").rows == Seq(Seq(3L)),
      "view over a binding unreadable outside its creating session")
    // (2) ALTER TABLE RENAME must not destroy the caller's shadow of the
    // OLD name: definition and materialization must stay in agreement
    assert(run(a, "CREATE TABLE rev_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='2')").columns != Seq("error"))
    assert(run(a, "CREATE TEMPORARY VIEW rev_t AS SELECT 42 AS id").columns != Seq("error"))
    assert(run(a, "ALTER TABLE rev_t RENAME TO rev_t2").columns != Seq("error"))
    assert(run(a, "SELECT id FROM rev_t").rows == Seq(Seq(42)),
      "rename destroyed the caller's shadow of the old name")
    assert(run(a, "SHOW CREATE VIEW rev_t").rows.head.mkString.contains("TEMPORARY"))
    assert(run(a, "SELECT count(*) AS n FROM rev_t2").rows == Seq(Seq(2L)))
    // (3) a connector-less CREATE TEMPORARY TABLE is droppable by DROP
    // TEMPORARY TABLE (it lives as a plain session relation)
    assert(run(a, "CREATE TEMPORARY TABLE rev_plain (x INT)").columns != Seq("error"))
    assert(run(a, "DROP TEMPORARY TABLE rev_plain").columns != Seq("error"),
      "DROP TEMPORARY TABLE cannot drop the relation its own CREATE produced")
    assert(run(a, "SELECT x FROM rev_plain").columns == Seq("error"))
    // (4) plain CREATE TEMPORARY VIEW must not silently clobber an
    // unregistered session relation — only shared objects are shadowable
    assert(run(a, "CREATE TEMPORARY TABLE rev_plain2 (x INT)").columns != Seq("error"))
    val clobber = run(a, "CREATE TEMPORARY VIEW rev_plain2 AS SELECT 7 AS y")
    assert(clobber.columns == Seq("error") &&
      clobber.rows.head.mkString.contains("already exists"), clobber.rows)
    // (5) ALTER TABLE SET propagates to sessions that already materialized
    // the binding
    assert(run(b, "SELECT count(*) AS n FROM rev_t2").rows == Seq(Seq(2L)))
    assert(run(a, "ALTER TABLE rev_t2 SET ('number-of-rows'='7')").columns != Seq("error"))
    assert(run(b, "SELECT count(*) AS n FROM rev_t2").rows == Seq(Seq(7L)),
      "other session kept serving pre-ALTER options")
    gw.closeSession(a); gw.closeSession(b)
  }

  test("two LIVE gateways: session shadows stay exact across instances (r16)") {
    // Pre-r16, shadow knowledge (which sessions hold a temp view / plain
    // temp table over a shared name) lived per-gateway behind a process-
    // global probe the LATEST-constructed gateway owned: with two live
    // gateways, a rebind in the older gateway's session missed its own
    // shadows and clobbered them — the exact bug the probe fixed,
    // reintroduced across instances (r15 ADVICE). Shadow state now lives in
    // the shared TableEnv, keyed per session, so the scenarios below are
    // exact whichever instance triggers the rebind.
    import graft.engine.TableEnv
    TableEnv.clear()
    val gwA = new Gateway(spark)
    val a = gwA.openSession("twin_a")
    def runA(s: String) = gwA.fetchResults(gwA.executeStatement(a, s), 0)
    // session A shadows a shared binding name with a TEMP VIEW, and holds a
    // plain temporary table the rename scenario below targets
    assert(runA("CREATE TABLE twin_t (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='3')").columns != Seq("error"))
    assert(runA("CREATE TEMPORARY VIEW twin_t AS SELECT 42 AS id").columns != Seq("error"))
    assert(runA("CREATE TEMPORARY TABLE twin_plain (x INT)").columns != Seq("error"))
    assert(runA("CREATE TABLE twin_src (id BIGINT) WITH " +
      "('connector'='datagen','number-of-rows'='5')").columns != Seq("error"))
    assert(runA("SELECT id FROM twin_t").rows == Seq(Seq(42)))
    // the SECOND live gateway — pre-r16 its construction stole the probe,
    // so every shadow consult below would have answered from ITS (empty)
    // registries
    val gwB = new Gateway(spark)
    val b = gwB.openSession("twin_b")
    def runB(s: String) = gwB.fetchResults(gwB.executeStatement(b, s), 0)
    // B's session sees the shared binding, not A's shadow
    assert(runB("SELECT count(*) AS n FROM twin_t").rows == Seq(Seq(3L)))
    // (1) an ALTER in gateway A's OWN session re-materializes the binding
    // per reference — A's temp-view shadow must keep winning there
    assert(runA("ALTER TABLE twin_t SET ('number-of-rows'='9')").columns != Seq("error"))
    assert(runA("SELECT id FROM twin_t").rows == Seq(Seq(42)),
      "gateway A's shadow clobbered by a rebind after a second gateway went live")
    assert(runB("SELECT count(*) AS n FROM twin_t").rows == Seq(Seq(9L)),
      "the ALTER must still propagate to the other gateway's session")
    // (2) the r15 soak scenario across instances: RENAME onto a name
    // session A shadows with a PLAIN temp table, executed in A — the
    // rebind of the new name must spare A's shadow
    assert(runA("ALTER TABLE twin_src RENAME TO twin_plain").columns != Seq("error"))
    assert(runA("SELECT count(*) AS n FROM twin_plain").rows == Seq(Seq(0L)),
      "rename rebind clobbered A's plain temp-table shadow (cross-instance probe loss)")
    assert(runB("SELECT count(*) AS n FROM twin_plain").rows == Seq(Seq(5L)),
      "the renamed binding must materialize in the other gateway's session")
    // (3) and the mirror: a shadow held in the NEWEST gateway's session
    // survives a rebind triggered from the OLDEST (pre-r16 this direction
    // happened to work — both must)
    assert(runB("CREATE TEMPORARY VIEW twin_plain AS SELECT 7 AS y").columns != Seq("error"))
    assert(runA("ALTER TABLE twin_plain SET ('number-of-rows'='6')").columns != Seq("error"))
    assert(runB("SELECT y FROM twin_plain").rows == Seq(Seq(7)),
      "gateway B's shadow clobbered by a rebind from gateway A")
    assert(runA("SELECT count(*) AS n FROM twin_plain").rows == Seq(Seq(0L)),
      "A's plain temp table must still shadow after the SET")
    gwA.closeSession(a); gwB.closeSession(b)
  }

  test("driver memory ceiling under adversarial paging: 6 concurrent large batch ops, interleaved token walks (r13)") {
    // NotebookLifecycleSpec proves ONE paged SELECT materializes one page
    // at a time; this holds SIX large batch operations open AT ONCE and
    // walks their tokens interleaved — the adversarial client shape (many
    // editor panels, each mid-scroll through a huge result). The driver
    // must hold, per op, at most the 8-page retention cache plus
    // toLocalIterator's one-partition prefetch — NOT the full results.
    val gw = new Gateway(spark)
    val nOps = 6
    val rowsPerOp = 120000     // 120 pages of 1000; ~1 KB per row
    // warm the session + codegen before the baseline heap reading
    val warm = gw.openSession("page_warm")
    gw.fetchResults(gw.executeStatement(warm,
      "SELECT id, repeat('x', 1024) AS pad FROM range(0, 2000, 1, 4)"), 0)
    gw.closeSession(warm)
    def usedHeap(): Long = {
      System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100)
      val rt = Runtime.getRuntime; rt.totalMemory() - rt.freeMemory()
    }
    val heap0 = usedHeap()
    val hs = (0 until nOps).map(i => gw.openSession(s"pager_$i"))
    val ops = hs.map { h =>
      // 24 input partitions → toLocalIterator's prefetch is ~5k rows, far
      // below the 120k total, so partition granularity can't mask a leak
      gw.executeStatement(h,
        s"SELECT id, repeat('x', 1024) AS pad FROM range(0, $rowsPerOp, 1, 24)")
    }
    // interleaved walk: 15 pages from each op, round-robin — every op stays
    // OPEN and mid-result the whole time
    val walked = 15
    (0 until walked).foreach { t =>
      ops.zipWithIndex.foreach { case (op, i) =>
        val p = gw.fetchResults(op, t)
        assert(p.rows.size == 1000, s"op $i token $t: ${p.rows.size} rows")
        assert(!p.eos, s"op $i ended at token $t")
      }
    }
    // counter proof of bounded retention: pages materialized = pages walked
    // (the iterator was NOT drained), cache within the retention window,
    // total page count still unknown for every op
    ops.zipWithIndex.foreach { case (op, i) =>
      val (materialized, cached, totalPages) = gw.opDiagnostics(op)
      assert(materialized == walked, s"op $i materialized $materialized pages for $walked fetches")
      assert(cached <= 8, s"op $i retains $cached pages (> retention window)")
      assert(totalPages.isEmpty, s"op $i was drained to EOS behind the client's back")
    }
    // end-to-end heap guard: 6 ops × 120k × ~1 KB ≈ 740 MB if results were
    // held whole; the bounded-paging shape is ≤ (8 pages + 1 partition
    // prefetch) × 6 ≈ 80 MB. Assert well under the leak scenario with slack
    // for GC noise.
    val heapDelta = usedHeap() - heap0
    assert(heapDelta < 350L * 1024 * 1024,
      f"driver heap grew ${heapDelta / 1048576}%d MB across 6 open paged ops — paging is materializing results")
    // draining ONE op to EOS must not disturb the others
    var t = walked
    var eos = false
    while (!eos) { val p = gw.fetchResults(ops.head, t); eos = p.eos || p.rows.isEmpty; t += 1 }
    val (_, _, total0) = gw.opDiagnostics(ops.head)
    assert(total0.contains(rowsPerOp / 1000), s"drained op reports $total0 pages")
    ops.tail.zipWithIndex.foreach { case (op, i) =>
      val (materialized, _, totalPages) = gw.opDiagnostics(op)
      assert(materialized == walked && totalPages.isEmpty,
        s"draining op 0 advanced op ${i + 1}: $materialized/$totalPages")
    }
    hs.foreach(gw.closeSession)
  }

  test("abandoned-operation retention: churn stays bounded, closeSession purges (r13)") {
    // a client that never closeOperation()s (the reference notebook's error
    // paths) must not grow the registry without bound — the r13 churn probe
    // measured ~100 KB of retained plan/page state per trivial statement
    // (4k SELECTs leaked ~380 MB) before the per-session FIFO retention
    val gw = new Gateway(spark)
    val h = gw.openSession("op_churn")
    val handles = (1 to gw.maxOpsPerSession + 200).map { i =>
      gw.executeStatement(h, s"SELECT $i AS x")
    }
    assert(gw.liveOperationCount <= gw.maxOpsPerSession + 1,
      s"registry grew past the cap: ${gw.liveOperationCount}")
    // the oldest handles were auto-closed, the newest still fetch
    assert(intercept[IllegalStateException](gw.fetchResults(handles.head, 0))
      .getMessage.contains("does not exist"))
    val live = gw.fetchResults(handles.last, 0)
    assert(live.rows.head.head.toString == (gw.maxOpsPerSession + 200).toString)
    // closeSession releases everything the session issued
    gw.closeSession(h)
    assert(gw.liveOperationCount == 0,
      s"closeSession left ${gw.liveOperationCount} operations")
  }

  test("cross-session churn bomb: 10k operations under racing closeSession/STOP JOB (r14)") {
    // the registry caps are per-session; this proves the GLOBAL picture: 8
    // workers push 10,000 operations through short-lived sessions while a
    // chaos thread closes live sessions out from under them and a job
    // worker churns streaming INSERT jobs with STOP JOB. Contract: no call
    // escapes with anything but the documented IllegalStateException, and
    // when the dust settles the registry is EMPTY — including operations
    // that raced a closeSession (the r13 ADVICE leak: a racing
    // executeStatement could re-create the purged session queue forever).
    graft.engine.TableEnv.clear()
    val gw = new Gateway(spark)
    val n = 8
    val perWorker = soak(1250)
    val pool = Executors.newFixedThreadPool(n + 2)
    val start = new CountDownLatch(1)
    val live = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Try[Unit]]()
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          results.put(i, Try {
            start.await()
            var ops = 0
            var batch = 0
            while (ops < perWorker) {
              val h = gw.openSession(s"bomb_${i}_$batch")
              batch += 1
              live.add(h)
              var k = 0
              while (k < 25 && ops < perWorker) {
                k += 1; ops += 1
                try {
                  val op = k % 5 match {
                    case 0 => gw.executeStatement(h, "SHOW TABLES")
                    case 1 => gw.executeStatement(h, s"SELECT id FROM range(${50 + k})")
                    case _ => gw.executeStatement(h, s"SELECT $ops AS x")
                  }
                  if (k % 3 == 0) gw.fetchResults(op, 0)
                  if (k % 7 == 0) gw.closeOperation(op)
                  // the rest are abandoned: retention must absorb them
                } catch {
                  case e: IllegalStateException =>
                    // chaos closed the session mid-use: the ONLY legal throw
                    assert(e.getMessage.contains("does not exist"), e.getMessage)
                    k = 25 // session is gone; open a fresh one
                }
              }
              live.remove(h)
              gw.closeSession(h) // idempotent vs a chaos close
            }
          })
          done.incrementAndGet(); ()
        }
      })
    }
    // chaos: close random live sessions out from under their workers
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        val rnd = new scala.util.Random(14)
        while (done.get() < n) {
          val arr = live.toArray(Array.empty[String])
          if (arr.nonEmpty && rnd.nextInt(4) == 0) {
            val h = arr(rnd.nextInt(arr.length))
            live.remove(h)
            gw.closeSession(h)
          }
          Thread.sleep(3)
        }
      }
    })
    // job churn: streaming INSERT into blackhole, STOP JOB, repeat
    val jobErr = new java.util.concurrent.atomic.AtomicReference[String](null)
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          val h = gw.openSession("bomb_jobs")
          gw.executeStatement(h, "CREATE TABLE bomb_src (id BIGINT) WITH " +
            "('connector'='datagen','rows-per-second'='50')")
          gw.executeStatement(h, "CREATE TABLE bomb_bh (id BIGINT) WITH " +
            "('connector'='blackhole')")
          (1 to 6).foreach { _ =>
            val p = gw.fetchResults(gw.executeStatement(h,
              "INSERT INTO bomb_bh SELECT id FROM bomb_src"), 0)
            val msg = p.rows.head.head.toString
            val job = "Job (\\S+) started".r.findFirstMatchIn(msg)
              .getOrElse(throw new IllegalStateException(s"job start failed: $msg")).group(1)
            Thread.sleep(150)
            gw.fetchResults(gw.executeStatement(h, s"STOP JOB '$job'"), 0)
          }
          gw.closeSession(h)
        } catch { case e: Exception => jobErr.set(e.toString) }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(600, TimeUnit.SECONDS), "churn bomb timed out")
    results.forEach((i, r) => r match {
      case Failure(e) => fail(s"worker $i: $e")
      case Success(_) => ()
    })
    assert(jobErr.get() == null, s"job churn worker: ${jobErr.get()}")
    // close any sessions chaos never reached
    live.forEach(gw.closeSession)
    assert(gw.liveOperationCount == 0,
      s"churn left ${gw.liveOperationCount} live operations in the registry")
    // the gateway is still fully usable
    val h2 = gw.openSession("bomb_after")
    assert(gw.fetchResults(gw.executeStatement(h2, "SELECT 1 AS one"), 0)
      .rows == Seq(Seq(1)))
    gw.closeSession(h2)
    graft.engine.Jobs.stopAll()
  }

  test("byte-aware retention: a few huge cached results cannot dodge the count cap (r14)") {
    // the 512-handle FIFO is count-based; handles whose cached pages are
    // each large could retain far more than the churn probe's tiny
    // statements. The per-session byte cap closes the corner: oldest
    // completed handles close once the ESTIMATED retained bytes cross it,
    // long before 512 handles accumulate.
    val gw = new Gateway(spark)
    val h = gw.openSession("byte_cap")
    // each op caches up to 8 pages x 1000 rows x ~8 KB string = ~16 MB once
    // two pages are walked; a handful crosses the 64 MB session cap
    def bigOp(): String = {
      val op = gw.executeStatement(h,
        "SELECT id, repeat('x', 8192) AS pad FROM range(3000)")
      assert(gw.fetchResults(op, 0).rows.size == gw.pageSize)
      assert(gw.fetchResults(op, 1).rows.nonEmpty)
      op
    }
    val ops = (1 to 8).map(_ => bigOp())
    val retained = gw.sessionRetainedBytes(h)
    assert(retained <= gw.maxRetainedBytesPerSession,
      s"retained ${retained / 1024 / 1024} MB past the byte cap")
    // the oldest big handles were auto-closed well under the 512 count cap
    assert(intercept[IllegalStateException](gw.fetchResults(ops.head, 0))
      .getMessage.contains("does not exist"))
    // the newest (the one being served at enforcement time) survived
    assert(gw.fetchResults(ops.last, 1).rows.nonEmpty)
    gw.closeSession(h)
    assert(gw.liveOperationCount == 0)
  }

  test("byte-cap enforcement walk stays bounded under adversarial concurrency (r15)") {
    // enforceSessionBytes (plus the liveness touch's queue remove) walks
    // the session FIFO on EVERY batch fetch. Two sessions interleaving
    // large cached-page fetches at the 512-handle cap is the worst case
    // the r14 verdict left unmeasured. The walk is O(handles) — ~512
    // queue entries and registry lookups per fetch, tens of microseconds —
    // so assert a generous per-fetch ceiling: a regression to
    // O(handles^2) or a lock convoy blows through it by 100x, while
    // ordinary host stalls stay well under it.
    val gw = new Gateway(spark)
    val hs = Seq(gw.openSession("walk_a"), gw.openSession("walk_b"))
    val bigs = hs.map { h =>
      val op = gw.executeStatement(h,
        "SELECT id, repeat('x', 4096) AS pad FROM range(2000)")
      assert(gw.fetchResults(op, 0).rows.size == gw.pageSize)
      assert(gw.fetchResults(op, 1).rows.nonEmpty) // both pages cached
      h -> op
    }
    // fill each FIFO to just under the 512-handle cap (no eviction of the
    // big handle — its fetches below also keep touching it to the tail)
    hs.foreach { h =>
      (1 to gw.maxOpsPerSession - 8).foreach(i =>
        gw.executeStatement(h, s"SELECT $i AS x"))
    }
    val perFetch = 3000
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val nanos = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val start = new java.util.concurrent.CountDownLatch(1)
    bigs.foreach { case (_, op) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val t0 = System.nanoTime()
          (0 until perFetch).foreach { i =>
            assert(gw.fetchResults(op, i % 2).rows.nonEmpty)
          }
          nanos.add(System.nanoTime() - t0)
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS),
      "walk threads did not finish")
    val worstMeanMs = {
      var w = 0.0
      nanos.forEach(n => w = math.max(w, n / 1e6 / perFetch))
      w
    }
    info(f"byte-cap walk: worst thread mean $worstMeanMs%.3f ms/fetch at " +
      s"${gw.maxOpsPerSession} handles x 2 sessions")
    assert(worstMeanMs < 20.0,
      f"per-fetch enforcement walk degenerated: $worstMeanMs%.3f ms/fetch")
    hs.foreach(gw.closeSession)
    assert(gw.liveOperationCount == 0)
  }

  test("fetchResults is a liveness touch: an actively-paged result survives churn (r14)") {
    // retention used to evict strictly by issuance order, so a large batch
    // result a client was still token-paging got auto-closed once
    // maxOpsPerSession newer statements ran in the same session — the next
    // fetch threw 'Operation does not exist' mid-pagination (r13 ADVICE)
    val gw = new Gateway(spark)
    val h = gw.openSession("page_touch")
    val big = gw.executeStatement(h, "SELECT id FROM range(5000)")
    assert(gw.fetchResults(big, 0).rows.size == gw.pageSize)
    (1 to gw.maxOpsPerSession + 50).foreach { i =>
      gw.executeStatement(h, s"SELECT $i AS x")
      // the paging client touches its result well under the cap interval —
      // each touch moves the handle to the retention queue's tail
      if (i % 100 == 0) assert(gw.fetchResults(big, 1).rows.nonEmpty)
    }
    val p = gw.fetchResults(big, 2) // still alive mid-pagination
    assert(p.rows.size == gw.pageSize, s"big result evicted mid-pagination")
    gw.closeSession(h)
    assert(gw.liveOperationCount == 0)
  }
}
