package gatewaybench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, LocalRelation, ReturnAnswer}
import graft.engine.{FlinkDialect, Gateway, GraftSession, Jobs}

/** One finished client operation. Times are gateway time only: the client's
  * own answer hashing between fetches is excluded. */
final case class Sample(stmt: Long, op: Op, startMs: Long, executeMs: Double,
    firstMs: Double, eosMs: Double, pages: Int, rows: Long, digest: Long,
    error: Option[String], metaRows: Seq[Seq[Any]] = Nil)

/** The gateway-path benchmark: drives the engine through `Gateway` only,
  * times what a client sees, then checks every answer outside the gateway.
  *
  * {{{
  * gatewaybench.Main --workload interactive|bulk|stream --seed N --seconds S
  *   --trace 0|1 --data DIR --out DIR [--t0-ms EPOCH_MS]
  * gatewaybench.Main --generate DIR SF [DIR SF ...]
  * }}}
  *
  * Prints one line `GATEWAYBENCH {json}` with every metric it measured. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, out: String, t0Ms: Long)

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--generate")) return generate(argv.drop(1).toSeq)
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv("out"), kv.get("t0-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
    require(Set("interactive", "bulk", "stream")(a.workload), s"unknown workload ${a.workload}")
    val line = new Bench(a).run()
    println("GATEWAYBENCH " + line)
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }

  /** The shipped engine configuration: local[nproc], nproc partitions. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def generate(args: Seq[String]): Unit = {
    val spark = session()
    args.grouped(2).foreach { case Seq(dir, sf) => DataGen.generate(spark, dir, sf.toDouble) }
    spark.stop()
  }

  /** Flink DDL binding each fixture parquet directory as a table. */
  def fixtureDdl(dataDir: String): Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP(3), o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP(3)"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT, event_type STRING, " +
      "`value` DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, `text` STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (t, cols) =>
    t -> s"CREATE TABLE $t ($cols) WITH ('connector'='filesystem','path'='$dataDir/$t.parquet','format'='parquet')"
  }
}

/** One benchmark process: set-up, the measured window, the answer checks. */
final class Bench(a: Main.Args) {
  private val loadBefore = Bench.loadAvg()
  private val spark = Main.session()
  private val sparkReadyMs = System.currentTimeMillis()
  private val cpus = spark.sparkContext.defaultParallelism
  private val sf = if (a.workload == "bulk") "sf0.1" else "sf0.01"
  private val dataDir = s"${a.data}/$sf"
  private val scratch = {
    val p = Paths.get(a.out, s"scratch-${a.workload}-${a.seed}-${a.trace}").toAbsolutePath
    Bench.deleteTree(p)
    Files.createDirectories(p)
    p.toString
  }
  private val tracer = new Tracer(a.trace)
  private val listeners = new Listeners()
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val stmtIds = new java.util.concurrent.atomic.AtomicLong()
  private val sessionSpans = new ConcurrentLinkedQueue[(String, Double)]()
  private val extraFailures = new ConcurrentLinkedQueue[String]()
  private val stream = new StreamStats()
  /** seconds from process start to each phase, for the report */
  private val timeline = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private def mark(phase: String): Unit = timeline += phase -> (System.currentTimeMillis() - a.t0Ms) / 1000.0

  def run(): String = {
    mark("spark-ready")
    val manifest = DataGen.verify(dataDir)
    mark("verified")
    if (a.trace) {
      spark.sparkContext.addSparkListener(listeners)
      spark.listenerManager.register(listeners)
    }
    val bootDoneMs = System.currentTimeMillis()
    // set up the gateway several times and keep the median; the last one
    // is warmed up once and measured
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val gw = new Gateway(spark)
      val h = gw.openSession("setup")
      if (a.workload != "stream") bindFixtures(gw, h)
      gw.closeSession(h)
      mark(s"setup-rep-$i")
      (gw, (System.nanoTime() - t0) / 1e9)
    }
    val gw = setups.last._1
    val w = System.nanoTime()
    warmUp(gw)
    val warmS = (System.nanoTime() - w) / 1e9
    mark("warm")
    val setupS = (bootDoneMs - a.t0Ms) / 1000.0 + Stats.p50(setups.map(_._2)) + warmS

    val gcBefore = Bench.gcMs()
    val hitsBefore = gw.metaCache.hits.get
    val missesBefore = gw.metaCache.misses.get
    val w0 = System.currentTimeMillis()
    listeners.windowStartMs = w0
    a.workload match {
      case "interactive" => interactive(gw)
      case "bulk" => bulk(gw)
      case "stream" => streamWorkload(gw)
    }
    val w1 = System.currentTimeMillis()
    listeners.windowEndMs = w1
    val windowS = (w1 - w0) / 1000.0
    val gcWindow = Bench.gcMs() - gcBefore
    val metaEntries = gw.metaCache.size
    val hits = gw.metaCache.hits.get - hitsBefore
    val misses = gw.metaCache.misses.get - missesBefore
    Jobs.stopAll()
    mark("window-done")

    // ---- answer checks (untimed) ----
    val all = samples.asScala.toSeq.sortBy(_.startMs)
    val oracle = new Oracle(spark, dataDir, Paths.get(a.data, s"oracle-$sf"))
    mark("oracle-ready")
    val expected = oracle.expectedAll(all.map(_.op.check).filter(Bench.hasReference), cpus)
    val failures = all.flatMap(s => check(s, expected).map(m => s"[${s.op.cls}] $m :: ${s.op.text.take(160)}")) ++
      extraFailures.asScala
    failures.take(20).foreach(f => System.err.println(s"gatewaybench check failed: $f"))
    val attempted = all.size.toLong + stream.expected
    mark("checks-done")
    val failed = failures.size.toLong

    if (a.trace) Thread.sleep(500) // let the listener bus drain the window's events
    val heapMb = Bench.heapAfterGcMb()
    val threads = ManagementFactory.getThreadMXBean.getThreadCount
    val spin = Bench.spin()
    val loadAfter = Bench.loadAvg()
    mark("spin-done")

    val e2e = endToEnd(all, windowS, setupS, heapMb, attempted, failed)
    val layers = if (a.trace) perLayer(all, windowS, gcWindow, threads, metaEntries, hits, misses) else Nil
    val selfTimes = if (a.trace) layerSelfTimes(all, gcWindow) else Nil
    if (a.trace) writeSpans()
    Bench.deleteTree(Paths.get(scratch))

    val reads = all.filter(s => !s.op.isWrite)
    val classes = all.groupBy(_.op.cls).map { case (c, ss) => s"${Stats.str(c)}:${ss.size}" }
    val classEos = all.groupBy(_.op.cls).toSeq.sortBy(_._1).map { case (c, ss) =>
      s"${Stats.str(c)}:${Stats.num(Stats.p50(ss.map(_.eosMs)))}" }
    val texts = all.map(_.op.text)
    val noise = s"""{"load_before":${Stats.num(loadBefore)},"load_after":${Stats.num(loadAfter)},""" +
      s""""spin_sec":${Stats.num(spin)},"cpus":$cpus,"heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""spark_version":${Stats.str(spark.version)},"java_version":${Stats.str(System.getProperty("java.version"))}}"""
    mark("report")
    val setup = s"""{"timeline_s":{${timeline.map { case (k, v) => s"${Stats.str(k)}:${Stats.num(v)}" }.mkString(",")}},"boot_s":${Stats.num((bootDoneMs - a.t0Ms) / 1000.0)},"spark_ready_s":${Stats.num((sparkReadyMs - a.t0Ms) / 1000.0)},"gateway_s":[${setups.map(s => Stats.num(s._2)).mkString(",")}],"warm_up_s":${Stats.num(warmS)}}"""
    s"""{"workload":${Stats.str(a.workload)},"seed":${a.seed},"trace":${if (a.trace) 1 else 0},""" +
      s""""correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""window_s":${Stats.num(windowS)},"sf":${Stats.str(sf)},"rows_by_table":{${manifest.toSeq.sorted.map { case (t, n) => s"${Stats.str(t)}:$n" }.mkString(",")}},""" +
      s""""ops":${all.size},"reads":${reads.size},"classes":{${classes.mkString(",")}},""" +
      s""""class_eos_ms_p50":{${classEos.mkString(",")}},""" +
      s""""repeat_share":${Stats.num(Mix.repeatShare(texts))},""" +
      s""""failures":[${failures.take(20).map(Stats.str).mkString(",")}],""" +
      s""""noise":$noise,"setup":$setup,""" +
      s""""end_to_end":${Stats.metrics(e2e)},"per_layer":${Stats.metrics(layers)},""" +
      s""""layer_self_ms":{${selfTimes.map { case (l, v) => s"${Stats.str(l)}:${Stats.num(v)}" }.mkString(",")}}}"""
  }

  // ------------------------------------------------------------ set-up --

  private def bindFixtures(gw: Gateway, h: String): Unit =
    Main.fixtureDdl(Paths.get(dataDir).toAbsolutePath.toString).foreach { case (t, ddl) =>
      expectOk(gw, h, s"DROP TABLE IF EXISTS $t")
      expectOk(gw, h, ddl)
    }

  private def expectOk(gw: Gateway, h: String, stmt: String): Unit = {
    val op = gw.executeStatement(h, stmt)
    val p = gw.fetchResults(op, 0)
    gw.closeOperation(op)
    if (p.columns == Seq("error"))
      throw new IllegalStateException(s"set-up statement failed: $stmt -> ${p.rows.headOption.getOrElse(Nil)}")
  }

  /** Seed-independent work through the same paths the window takes. */
  private def warmUp(gw: Gateway): Unit = {
    def inSession(name: String)(f: String => Unit): Unit = {
      val h = gw.openSession(name)
      f(h)
      gw.closeSession(h)
    }
    a.workload match {
      case "stream" => inSession("warm")(streamCycle(gw, _, -1, genMs = 600, warm = true))
      case "bulk" => inSession("warm") { h =>
        Seq("SELECT COUNT(*) FROM lineitem",
          "SELECT event_type, COUNT(*) FROM events GROUP BY event_type",
          "SELECT lang, COUNT(*) FROM documents GROUP BY lang",
          "SELECT n_name, COUNT(*) FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")
          .foreach(s => runOp(gw, h, Op("warm", Kind.Read, s, Check.NoError), record = false))
      }
      case _ =>
        // both clients, one block each, concurrently: the same code paths
        // and contention the window sees
        clients(2) { c =>
          inSession(s"warm$c")(h => Mix.interactive(0L, 10 + c, 1, scratch).foreach(runOp(gw, h, _, record = false)))
        }
    }
  }

  private def clients(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until n).map { c =>
      val t = new Thread(() => body(c), s"gatewaybench-client-$c")
      t.start()
      t
    }
    ts.foreach(_.join())
  }

  // --------------------------------------------------------- workloads --

  private def deadline = System.currentTimeMillis() + a.seconds * 1000L

  /** Two closed-loop clients, each with its own session, reopened after
    * every block of statements. A client starts blocks while the window
    * lasts and always finishes the block it started, so every run measures
    * whole blocks of the same class mix. */
  private def interactive(gw: Gateway): Unit = {
    val end = deadline
    clients(2) { c =>
      val ops = Mix.interactive(a.seed, c, 40, scratch)
      ops.grouped(Mix.blockSize).takeWhile(_ => System.currentTimeMillis() < end).foreach { block =>
        val h = openSession(gw, s"client$c")
        block.foreach(op => runOp(gw, h, op))
        closeSession(gw, h)
      }
    }
  }

  /** One client running whole passes of the heavy list, a session per pass,
    * until the window is used (at least one pass). */
  private def bulk(gw: Gateway): Unit = {
    val end = deadline
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() < end) {
      val h = openSession(gw, "bulk")
      Mix.bulkPass(a.seed, pass).foreach(op => runOp(gw, h, op))
      closeSession(gw, h)
      pass += 1
    }
  }

  /** Streaming cycles, each on a fresh directory and binding, until the
    * window is used (at least one cycle). */
  private def streamWorkload(gw: Gateway): Unit = {
    val end = deadline
    var cycle = 0
    while (cycle == 0 || System.currentTimeMillis() < end) {
      val h = openSession(gw, "stream")
      streamCycle(gw, h, cycle, genMs = 2500, warm = false)
      closeSession(gw, h)
      cycle += 1
    }
  }

  private def openSession(gw: Gateway, name: String): String = {
    val t0 = System.nanoTime()
    val h = tracer.span("gateway.openSession", 0L)(gw.openSession(name))
    sessionSpans.add("open" -> (System.nanoTime() - t0) / 1e6)
    h
  }

  private def closeSession(gw: Gateway, h: String): Unit = {
    val t0 = System.nanoTime()
    tracer.span("gateway.closeSession", 0L)(gw.closeSession(h))
    sessionSpans.add("close" -> (System.nanoTime() - t0) / 1e6)
  }

  // ------------------------------------------------------ one operation --

  private def isError(p: Gateway#Page): Boolean = p.columns == Seq("error")

  private def runOp(gw: Gateway, h: String, op: Op, record: Boolean = true): Unit = {
    val id = stmtIds.incrementAndGet()
    val sc = spark.sparkContext
    if (a.trace) sc.setLocalProperty(Listeners.StmtKey, id.toString)
    val startMs = System.currentTimeMillis()
    var gatewayNs = 0L
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try tracer.span(name, id)(f) finally gatewayNs += System.nanoTime() - t0
    }
    var executeMs = 0.0
    var firstMs = Double.NaN
    var pages = 0
    var error: Option[String] = None
    var digest: Digest = null
    val metaRows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val check = op.check match { case Check.ScriptSql(i, _) => i; case _ => 0 }

    def drain(handle: String, hash: Boolean): Unit = {
      var p = timed("gateway.fetchResults")(gw.fetchResults(handle, 0))
      pages += 1
      if (firstMs.isNaN) firstMs = gatewayNs / 1e6
      if (isError(p)) error = Some(p.rows.headOption.map(_.mkString).getOrElse("error"))
      else {
        if (hash) digest = new Digest(p.columns)
        var more = true
        while (more) {
          if (hash) p.rows.foreach(digest.add)
          if (op.cls == "meta") metaRows ++= p.rows
          if (!p.eos && p.nextToken.isDefined) {
            p = timed("gateway.fetchResults")(gw.fetchResults(handle, p.nextToken.get))
            pages += 1
            if (isError(p)) { error = Some(p.rows.headOption.map(_.mkString).getOrElse("error")); more = false }
          } else more = false
        }
      }
      timed("gateway.closeOperation")(gw.closeOperation(handle))
    }

    try tracer.span("client.op", id) {
      op.kind match {
        case Kind.Read | Kind.Write =>
          val handle = timed("gateway.executeStatement")(gw.executeStatement(h, op.text))
          executeMs = gatewayNs / 1e6
          drain(handle, hash = op.kind == Kind.Read)
        case Kind.Script =>
          if (a.trace) tracer.span("dialect.split", id)(FlinkDialect.split(op.text))
          val handles = timed("gateway.executeScript")(gw.executeScript(h, op.text))
          executeMs = gatewayNs / 1e6
          handles.zipWithIndex.foreach { case (hd, i) => drain(hd, hash = i == check) }
        case Kind.Export =>
          val handle = timed("gateway.executeStatement")(gw.executeStatement(h, op.text))
          executeMs = gatewayNs / 1e6
          val path = Paths.get(scratch, s"export-$id.csv")
          val n = timed("gateway.exportCsvTo")(gw.exportCsvTo(handle, path))
          firstMs = gatewayNs / 1e6
          val lines = Files.lines(path).count() - 1
          Files.deleteIfExists(path)
          timed("gateway.closeOperation")(gw.closeOperation(handle))
          digest = new Digest(Nil)
          digest.rows = n
          if (lines != n) error = Some(s"export wrote $lines data lines for $n rows")
      }
    } catch {
      case e: Exception => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (a.trace) {
      sc.setLocalProperty(Listeners.StmtKey, null)
      if (op.kind == Kind.Read && Set("select", "tvf", "cep", "pipeline")(op.cls))
        shadowPlan(gw.session(h).spark, op.text, id)
    }
    if (record) samples.add(Sample(id, op, startMs, executeMs,
      if (firstMs.isNaN) gatewayNs / 1e6 else firstMs, gatewayNs / 1e6, pages,
      Option(digest).map(_.rows).getOrElse(0L), Option(digest).map(_.xor).getOrElse(0L),
      error, metaRows.toSeq))
  }

  /** Traced runs only: the statement's dialect rewrite and Spark parse /
    * analyze / optimize / plan, repeated on the same session after the
    * operation. Each phase is recorded only if it succeeds: Spark alone
    * cannot parse MATCH_RECOGNIZE, for instance. */
  private def shadowPlan(sp: SparkSession, text: String, id: Long): Unit = {
    def phase[A](name: String)(f: => A): Option[A] = {
      val t0 = System.nanoTime()
      try {
        val r = f
        tracer.record(name, id, t0, System.nanoTime())
        Some(r)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    val st = sp.sessionState
    for {
      rw <- phase("dialect.rewrite")(FlinkDialect.rewrite(text))
      parsed <- phase("spark.parse")(st.sqlParser.parsePlan(rw))
      analyzed <- phase("spark.analyze")(
        st.analyzer.executeAndCheck(parsed, new QueryPlanningTracker))
      optimized <- phase("spark.optimize")(st.optimizer.execute(analyzed))
      // a stream's source and watermark have no batch strategy: plan the
      // same query shape over an empty relation of the source's columns
      batchShape = optimized.transform {
        case l if l.children.isEmpty && l.isStreaming => LocalRelation(l.output)
      }.transform { case w: EventTimeWatermark => w.child }
      _ <- phase("spark.plan")(st.planner.plan(ReturnAnswer(batchShape)).next())
    } yield ()
  }

  // ------------------------------------------------------------ stream --

  /** One streaming cycle: a fresh changelog directory bound as a watermarked
    * table, a generator writing files at a fixed rate, the Top-1 dedup SELECT
    * offset-fetched on a tight poll until every unique event arrived, then
    * cancelled. */
  private def streamCycle(gw: Gateway, h: String, cycle: Int, genMs: Int, warm: Boolean): Unit = {
    val tag = if (warm) s"w${System.nanoTime()}" else s"s${a.seed}_c$cycle"
    val dir = Paths.get(scratch, s"stream_$tag")
    Files.createDirectories(dir)
    val table = s"ev_$tag"
    val periodMs = 100
    val perFile = 10
    val files = genMs / periodMs
    val feed = Mix.streamFeed(if (warm) 0L else a.seed, cycle, files, perFile, dupShare = 0.05)
    val unique = feed.flatten.filterNot(_._3).map(_._1).toSet
    def op(cls: String, kind: Kind, text: String) = Op(cls, kind, text, Check.NoError)
    runOp(gw, h, op("ddl", Kind.Write,
      s"CREATE TABLE $table (event_id BIGINT, user_id BIGINT, created_ms BIGINT, ts TIMESTAMP(3), " +
        "WATERMARK FOR ts AS ts - INTERVAL '1' SECOND, PRIMARY KEY (event_id) NOT ENFORCED) " +
        s"WITH ('connector'='mysql-cdc','changelog.path'='${dir.toAbsolutePath}')"), record = !warm)
    val select = s"SELECT event_id, user_id, created_ms FROM (SELECT event_id, user_id, created_ms, ts, " +
      s"ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts ASC) AS rn FROM $table) WHERE rn = 1"
    val id = stmtIds.incrementAndGet()

    val genLate = new java.util.concurrent.atomic.AtomicLong()
    @volatile var genDone = false
    val t0 = System.nanoTime()
    val handle = tracer.span("gateway.executeStatement", id)(gw.executeStatement(h, select))
    val jobStartMs = (System.nanoTime() - t0) / 1e6
    val gen = new Thread(() => {
      val g0 = System.currentTimeMillis()
      feed.zipWithIndex.foreach { case (events, i) =>
        // events carry the time they were due, so a late generator counts
        // as latency (open loop), and the lateness is reported
        val due = g0 + i.toLong * periodMs
        val now = System.currentTimeMillis()
        if (now < due) Thread.sleep(due - now)
        else genLate.accumulateAndGet(now - due, math.max)
        Bench.writeChangelog(dir, s"f$i", events.map(e => (e._1, e._2, due)))
      }
      // one far-future event moves the watermark past every real event
      Bench.writeChangelog(dir, "flush", Seq((-(cycle + 2).toLong, 0L, System.currentTimeMillis() + 60000L)))
      genDone = true
    }, "gatewaybench-generator")
    gen.start()

    val seen = scala.collection.mutable.HashMap.empty[Long, Int]
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    var firstRowMs = Double.NaN
    var token = 0
    var evicted = 0L
    var error: Option[String] = None
    val fetchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val timeoutAt = System.currentTimeMillis() + genMs + 30000L
    while (error.isEmpty && !(genDone && unique.subsetOf(seen.keySet)) && System.currentTimeMillis() < timeoutAt) {
      val f0 = System.nanoTime()
      val p = tracer.span("gateway.fetchResults", id)(gw.fetchResults(handle, token))
      fetchMs += (System.nanoTime() - f0) / 1e6
      val nowMs = System.currentTimeMillis()
      if (isError(p)) error = Some(p.rows.headOption.map(_.mkString).getOrElse("error"))
      else {
        val next = p.nextToken.getOrElse(token)
        evicted += math.max(0, next - token - p.rows.size)
        p.rows.foreach { r =>
          val eid = r.head.asInstanceOf[Number].longValue()
          seen(eid) = seen.getOrElse(eid, 0) + 1
          latencies += (nowMs - r(2).asInstanceOf[Number].longValue()).toDouble
          if (firstRowMs.isNaN) firstRowMs = (System.nanoTime() - t0) / 1e6
        }
        token = next
        if (p.rows.isEmpty) Thread.sleep(2)
      }
    }
    gen.join()
    // traced runs: re-plan the SELECT while its table is still bound
    if (a.trace && !warm) shadowPlan(gw.session(h).spark, select, id)
    // the newest job is this cycle's: cycles run one at a time
    val job = Jobs.list().headOption.flatMap(j => Jobs.get(j.name))
    val progress = job.map(_.recentProgress.toSeq).getOrElse(Nil)
    val c0 = System.nanoTime()
    tracer.span("gateway.cancelOperation", id)(gw.cancelOperation(handle))
    val cancelMs = (System.nanoTime() - c0) / 1e6
    gw.closeOperation(handle)
    runOp(gw, h, op("ddl", Kind.Write, s"DROP TABLE $table"), record = !warm)

    if (!warm) {
      val missing = unique.diff(seen.keySet).size
      val dups = seen.count { case (k, n) => n > 1 || !unique(k) }
      error.foreach(e => extraFailures.add(s"[stream] cycle $cycle: $e"))
      if (missing > 0) extraFailures.add(s"[stream] cycle $cycle: $missing unique events never arrived")
      if (dups > 0) extraFailures.add(s"[stream] cycle $cycle: $dups events arrived more than once or were planned duplicates")
      if (evicted > 0) extraFailures.add(s"[stream] cycle $cycle: $evicted rows evicted from the ring buffer before fetch")
      stream.add(unique.size, latencies.toSeq, firstRowMs, jobStartMs, cancelMs, fetchMs.toSeq,
        genLate.get, progress)
      samples.add(Sample(id, Op("stream", Kind.Read, select, Check.NoError), System.currentTimeMillis(),
        jobStartMs, firstRowMs, firstRowMs, fetchMs.size, seen.size.toLong, 0L, error))
      // micro-batches as spans on the same clock as the others
      val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
      progress.foreach { pr =>
        val start = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L + epochToNano
        Option(pr.durationMs.get("triggerExecution")).foreach(t =>
          tracer.record("stream.trigger", 0L, start, start + t.longValue() * 1000000L))
      }
    }
    Bench.deleteTree(dir)
  }

  // ----------------------------------------------------------- checks --

  private def check(s: Sample, expected: Map[Check, scala.util.Try[(Long, Long)]]): Option[String] =
    s.error.map(e => s"error page: ${e.take(300)}").orElse {
      s.op.check match {
        case Check.NoError => None
        case c if Bench.hasReference(c) => expected(c) match {
          case scala.util.Failure(e) => Some(s"reference failed: ${e.getMessage}")
          case scala.util.Success((n, _)) if s.op.kind == Kind.Export =>
            if (s.rows == n) None else Some(s"exported ${s.rows} rows, expected $n")
          case scala.util.Success((n, x)) =>
            if (s.rows == n && s.digest == x) None
            else Some(s"got ${s.rows} rows digest ${s.digest}, expected $n rows digest $x")
        }
        case Check.ListsTables =>
          if (s.metaRows.nonEmpty) None else Some("SHOW TABLES listed no table")
        case Check.Describes(n) =>
          if (s.metaRows.size == n) None else Some(s"DESCRIBE returned ${s.metaRows.size} rows, expected $n")
        case Check.ShowsCreate(t) =>
          if (s.metaRows.flatten.exists(v => String.valueOf(v).toUpperCase.contains("CREATE TABLE") &&
              String.valueOf(v).toLowerCase.contains(t))) None
          else Some(s"SHOW CREATE TABLE $t rendered no DDL")
      }
    }

  // ----------------------------------------------------------- metrics --

  private def endToEnd(all: Seq[Sample], windowS: Double, setupS: Double, heapMb: Double,
      attempted: Long, failed: Long): Seq[(String, Double, String)] = {
    val reads = all.filter(s => s.op.kind != Kind.Write && s.op.cls != "stream")
    val writes = all.filter(_.op.isWrite)
    val firstPage = reads.filter(_.op.kind != Kind.Export).map(_.firstMs)
    val eos = reads.map(_.eosMs)
    val rowsDelivered = reads.map(_.rows).sum.toDouble
    val readGatewayS = reads.map(_.eosMs).sum / 1000.0
    val common = Seq(
      ("setup_s", setupS, "s"),
      ("ops_failed_frac", failed.toDouble / math.max(1L, attempted), "fraction"),
      ("heap_after_gc_mb", heapMb, "MB"))
    val batch = if (a.workload == "stream") Nil else Seq(
      ("first_page_ms_p50", Stats.p50(firstPage), "ms"),
      ("eos_ms_p50", Stats.p50(eos), "ms"),
      ("stmts_per_s", all.size / windowS, "stmt/s"),
      ("rows_per_s", if (readGatewayS > 0) rowsDelivered / readGatewayS else Double.NaN, "rows/s")) ++
      Stats.p95(firstPage).map(v => ("first_page_ms_p95", v, "ms")) ++
      Stats.p95(eos).map(v => ("eos_ms_p95", v, "ms"))
    val wr = if (writes.isEmpty) Nil
      else Seq(("write_ms_p50", Stats.p50(writes.map(_.eosMs)), "ms")) ++
        Stats.p95(writes.map(_.eosMs)).map(v => ("write_ms_p95", v, "ms"))
    val st = if (a.workload != "stream") Nil else Seq(
      ("stream_first_row_ms_p50", Stats.p50(stream.firstRow.toSeq), "ms"),
      ("event_latency_ms_p50", Stats.p50(stream.latencies.toSeq), "ms"),
      ("first_page_ms_p50", Stats.p50(stream.firstRow.toSeq), "ms"),
      ("rows_per_s", stream.latencies.size / windowS, "rows/s")) ++
      Stats.p95(stream.latencies.toSeq).map(v => ("event_latency_ms_p95", v, "ms"))
    val counts = Seq(
      ("samples.reads", firstPage.size.toDouble, "count"),
      ("samples.writes", writes.size.toDouble, "count"),
      ("samples.events", stream.latencies.size.toDouble, "count"),
      ("samples.stream_first_rows", stream.firstRow.size.toDouble, "count"))
    // the workload's completion latency: EOS for batch reads, event arrival
    // for the stream
    val latency = if (a.workload == "stream") Stats.p50(stream.latencies.toSeq) else Stats.p50(eos)
    common ++ batch ++ wr ++ st ++ counts :+ (("latency_ms_p50", latency, "ms"))
  }

  private def perLayer(all: Seq[Sample], windowS: Double, gcWindow: Long, threads: Int,
      metaEntries: Int, hits: Long, misses: Long): Seq[(String, Double, String)] = {
    val spans = tracer.all
    val clsOf = all.map(s => s.stmt -> s.op.cls).toMap
    def named(n: String) = spans.filter(_.name == n)
    def ms(n: String) = named(n).map(_.ms)
    val exec = named("gateway.executeStatement").filter(sp => clsOf.contains(sp.stmt))
    val byStmt = spans.groupBy(_.stmt)
    val overhead = exec.flatMap { e =>
      val ss = byStmt.getOrElse(e.stmt, Nil)
      def one(n: String) = ss.find(_.name == n).map(_.ms)
      for (rw <- one("dialect.rewrite"); p <- one("spark.parse"); an <- one("spark.analyze"))
        yield e.ms - rw - p - an
    }
    val phases = listeners.phases.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def phase(k: String) = Stats.p50(phases.getOrElse(k, Nil))
    val exports = all.filter(_.op.kind == Kind.Export)
    val exportS = exports.map(s => s.eosMs - s.executeMs).sum / 1000.0
    val perClass = exec.groupBy(sp => clsOf(sp.stmt)).toSeq.sortBy(_._1).map { case (c, ss) =>
      (s"gateway.execute_ms_p50.$c", Stats.p50(ss.map(_.ms)), "ms")
    }
    val sessions = sessionSpans.asScala.toSeq
    val fetches = ms("gateway.fetchResults")
    val skews = listeners.stageSkews
    Seq(
      ("dialect.split_us_p50", Stats.p50(ms("dialect.split")) * 1000, "us"),
      ("dialect.rewrite_us_p50", Stats.p50(ms("dialect.rewrite")) * 1000, "us"),
      ("dialect.rewrite_us_p95", Stats.quantile(ms("dialect.rewrite"), 0.95) * 1000, "us"),
      ("gateway.execute_ms_p50", Stats.p50(exec.map(_.ms)), "ms"),
      ("gateway.overhead_ms_p50", Stats.p50(overhead), "ms"),
      ("gateway.open_session_ms_p50", Stats.p50(sessions.filter(_._1 == "open").map(_._2)), "ms"),
      ("gateway.close_session_ms_p50", Stats.p50(sessions.filter(_._1 == "close").map(_._2)), "ms"),
      ("gateway.fetch_ms_per_page_p50", Stats.p50(fetches), "ms"),
      ("gateway.pages", all.map(_.pages).sum.toDouble, "count"),
      ("results.export_rows_per_s", if (exportS > 0) exports.map(_.rows).sum / exportS else Double.NaN, "rows/s"),
      ("metacache.meta_ms_p50", Stats.p50(exec.filter(sp => clsOf(sp.stmt) == "meta").map(_.ms)), "ms"),
      ("metacache.entries", metaEntries.toDouble, "count"),
      ("metacache.hit_share", if (hits + misses > 0) hits.toDouble / (hits + misses) else Double.NaN, "fraction"),
      ("spark.parse_ms_p50", Stats.p50(ms("spark.parse")), "ms"),
      ("spark.analyze_ms_p50", Stats.p50(ms("spark.analyze")), "ms"),
      ("spark.optimize_ms_p50", Stats.p50(ms("spark.optimize")), "ms"),
      ("spark.plan_ms_p50", Stats.p50(ms("spark.plan")), "ms"),
      ("spark.listener.parse_ms_p50", phase("parsing"), "ms"),
      ("spark.listener.analyze_ms_p50", phase("analysis"), "ms"),
      ("spark.listener.optimize_ms_p50", phase("optimization"), "ms"),
      ("spark.listener.plan_ms_p50", phase("planning"), "ms"),
      ("exec.jobs", listeners.jobs.get.toDouble, "count"),
      ("exec.stages", listeners.stages.get.toDouble, "count"),
      ("exec.tasks", listeners.tasks.get.toDouble, "count"),
      ("exec.task_ms", listeners.taskMs.get.toDouble, "ms"),
      ("exec.gc_ms", listeners.gcMs.get.toDouble, "ms"),
      ("exec.shuffle_read_bytes", listeners.shuffleRead.get.toDouble, "bytes"),
      ("exec.shuffle_write_bytes", listeners.shuffleWrite.get.toDouble, "bytes"),
      ("exec.spill_bytes", listeners.spill.get.toDouble, "bytes"),
      ("exec.input_rows", listeners.inputRows.get.toDouble, "count"),
      ("exec.task_skew_p50", Stats.p50(skews), "ratio"),
      ("exec.busy_share", listeners.taskMs.get / (windowS * 1000.0 * cpus), "fraction"),
      ("jvm.gc_ms", gcWindow.toDouble, "ms"),
      ("jvm.threads_live_end", threads.toDouble, "count"),
    ) ++ perClass ++ stream.layerMetrics
  }

  /** Self time per layer over the window's client operations, from the
    * spans and the listener's job walls (see README, "Traced run"). */
  private def layerSelfTimes(all: Seq[Sample], gcWindow: Long): Seq[(String, Double)] = {
    val byStmt = tracer.all.groupBy(_.stmt)
    val acc = scala.collection.mutable.LinkedHashMap(
      Seq("dialect", "gateway", "metacache", "tableenv", "spark", "exec", "stream", "jvm").map(_ -> 0.0): _*)
    all.foreach { s =>
      val ss = byStmt.getOrElse(s.stmt, Nil)
      def sum(p: String => Boolean) = ss.filter(sp => p(sp.name)).map(_.ms).sum
      val gatewayMs = sum(_.startsWith("gateway."))
      val dialect = sum(_ == "dialect.rewrite") + sum(_ == "dialect.split")
      val sparkMs = sum(n => n == "spark.parse" || n == "spark.analyze" ||
        n == "spark.optimize" || n == "spark.plan")
      // a stream's jobs run on its own thread and count under `stream`
      val exec = Option(listeners.jobWallByStmt.get(s.stmt)).map(_.doubleValue()).getOrElse(0.0)
      val rest = math.max(0.0, gatewayMs - dialect - sparkMs - exec)
      val owner = s.op.cls match {
        case "meta" => "metacache"
        case "ddl" | "dml" => "tableenv"
        case _ => "gateway"
      }
      acc("dialect") += dialect; acc("spark") += sparkMs; acc("exec") += exec; acc(owner) += rest
    }
    acc("stream") += stream.triggerMsTotal
    acc("jvm") += gcWindow.toDouble
    acc.toSeq
  }

  private def writeSpans(): Unit = {
    val p = Paths.get(a.out, s"spans-${a.workload}-${a.seed}.jsonl")
    Files.write(p, tracer.all.map(_.json).asJava)
  }
}

/** Streaming measurements across cycles. */
final class StreamStats {
  var expected = 0L
  val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
  val firstRow = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val jobStart = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val cancel = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val fetch = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var genLateMax = 0L
  private val progress = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  def add(unique: Int, lat: Seq[Double], first: Double, jobStartMs: Double, cancelMs: Double,
      fetchMs: Seq[Double], genLate: Long,
      prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = synchronized {
    expected += unique
    latencies ++= lat
    if (!first.isNaN) firstRow += first
    jobStart += jobStartMs
    cancel += cancelMs
    fetch ++= fetchMs
    genLateMax = math.max(genLateMax, genLate)
    progress ++= prog
  }

  def triggerMsTotal: Double = progress.flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.doubleValue()).sum

  def layerMetrics: Seq[(String, Double, String)] = if (progress.isEmpty && jobStart.isEmpty) Nil else {
    def dur(k: String) = Stats.p50(progress.toSeq.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue())))
    val withRows = progress.toSeq.filter(_.numInputRows > 0)
    val last = progress.lastOption
    Seq(
      ("stream.trigger_ms_p50", dur("triggerExecution"), "ms"),
      ("stream.add_batch_ms_p50", dur("addBatch"), "ms"),
      ("stream.latest_offset_ms_p50", dur("latestOffset"), "ms"),
      ("stream.query_planning_ms_p50", dur("queryPlanning"), "ms"),
      ("stream.wal_commit_ms_p50", dur("walCommit"), "ms"),
      ("stream.rows_per_batch_p50", Stats.p50(withRows.map(_.numInputRows.toDouble)), "rows"),
      ("stream.state_rows", last.flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(Double.NaN), "count"),
      ("stream.state_mem_bytes", last.flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes.toDouble).getOrElse(Double.NaN), "bytes"),
      ("stream.fetch_ms_p50", Stats.p50(fetch.toSeq), "ms"),
      ("stream.job_start_ms_p50", Stats.p50(jobStart.toSeq), "ms"),
      ("stream.cancel_ms_p50", Stats.p50(cancel.toSeq), "ms"),
      ("stream.gen_late_ms_max", genLateMax.toDouble, "ms"))
  }
}

object Bench {
  /** Checks answered by a reference computation (see [[Oracle]]). */
  def hasReference(c: Check): Boolean = c match {
    case _: Check.Sql | _: Check.Tvf | _: Check.Cep | _: Check.ScriptSql => true
    case _ => false
  }

  def loadAvg(): Double =
    try ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  @volatile private var sink = 0L

  /** The fixed single-thread reference spin graft.Bench records: 200M
    * FNV-1a folds, best of three, in seconds. */
  def spin(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 1469598103934665603L
    var i = 0
    while (i < 200000000) { x = (x ^ i) * 1099511628211L; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }.min

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One debezium-json changelog file of inserts, written under a hidden
    * name and renamed, so the file source never sees a partial file. */
  def writeChangelog(dir: java.nio.file.Path, name: String, events: Seq[(Long, Long, Long)]): Unit = {
    val lines = events.map { case (id, user, createdMs) =>
      val ts = java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochMilli(createdMs), java.time.ZoneOffset.UTC)
      s"""{"before":null,"after":{"event_id":$id,"user_id":$user,"created_ms":$createdMs,"ts":"$ts"},"op":"c","ts_ms":$createdMs}"""
    }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, lines.asJava)
    Files.move(tmp, dir.resolve(s"$name.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
