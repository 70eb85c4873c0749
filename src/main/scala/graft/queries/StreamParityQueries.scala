package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables

/** Streaming==batch parity as ORACLE-PAIRED GATES for the flagship
  * streaming operators (CEP, as-of join, window TVF aggregation, event-time
  * dedup). Until round 8 this parity lived only in ScalaTest; these gates
  * surface it in CORRECTNESS_r{N}.json: each query replays a bounded
  * event slice through the REAL streaming operator (MemoryStream in waves,
  * watermark advanced past the end by marker-key pushers), computes the
  * symmetric difference against the batch operator on the same rows, and
  * emits ONE summary row `(op, diff_rows, nonempty)`. The DuckDB oracle is
  * the constant `(op, 0, true)` — any streaming divergence (or an
  * accidentally-empty corpus making the check vacuous) hash-mismatches.
  *
  * Scale note: this is a correctness INSTRUMENT, deliberately bounded — the
  * slice is collected to the driver to feed MemoryStream waves (~2k rows
  * regardless of SF). The operators' scale paths are exercised by their own
  * gates and the 2M-row probes in PLANS.md "Scale probe beyond sf0.1";
  * parity needs determinism, not volume.
  * Event time is derived as `timestamp_seconds(event_id)` — strictly
  * increasing, so ORDER BY it is a total order and batch/stream tie
  * handling cannot diverge by accident of input order.
  */
object StreamParityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** marker key for watermark pushers — excluded from both diff sides */
  private val PusherKey = -1L

  /** Parity gates run ~2k driver-fed rows through 5-6 micro-batches; at the
    * session default of 32 shuffle partitions each micro-batch pays 32 state
    * store partitions of task + checkpoint-delta overhead for a handful of
    * rows apiece. 4 partitions keeps the multi-partition state path honest
    * (the parity diff would catch a partitioning bug) at ~1/8 the overhead.
    * Disabling no-data micro-batches halves the batch count: every wave
    * otherwise triggers a data batch PLUS a watermark-advance batch, and the
    * gates never rely on no-data emission — the far-future pusher batches
    * are data batches that advance the watermark and flush all real-key
    * state (pusher-key state itself is filtered from the diff). Both confs
    * are read at query START, so setting them around the whole gate
    * (build + drain + diff) is sufficient and safe. */
  private[graft] def withParityConf[A](s: SparkSession)(body: => A): A = {
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      // the per-batch watermark literal makes each micro-batch's generated
      // code unique, so codegen pays a fresh janino compile EVERY batch to
      // execute ~700 rows — interpreted mode is strictly cheaper here and
      // semantically identical (Catalyst's interpreted/codegen contract)
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def memStream(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): MemoryStream[Row] =
    MemoryStream[Row](org.apache.spark.sql.Encoders.row(schema), s.sqlContext)

  /** Bounded, deterministic event slice: (user_id, ets, value, event_type).
    * The +3600 s offset keeps every event time strictly ABOVE epoch 0:
    * Spark's row-level late filter in stateful operators drops a row at
    * exactly the INITIAL watermark (0), so an epoch-0 event would vanish
    * from the stream side while the batch side keeps it — a harness
    * artifact, not an operator divergence (found by this very gate). */
  private def slice(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("event_id") + 3600).as("ets"),
        col("value"), col("event_type"))

  /** Run a streaming query to completion over waves + pushers, return the
    * sink table. The memory sink name is deterministic so bench's second
    * execution replaces (not duplicates) the first. */
  private[graft] def drain(s: SparkSession, out: DataFrame, name: String)(
      feed: StreamingQuery => Unit): DataFrame = {
    // checkpoint on tmpfs when present — the offset/commit WAL of this
    // ephemeral query is pure overhead on a real disk; wiped before start
    // because MemoryStream offsets restart from 0 every execution.
    // Namespaced by user + JVM pid: a fixed world-shared path on a shared
    // host would collide across users (deleteQuietly fails silently on a
    // foreign owner, then the query resumes against stale offsets)
    val ckptBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    val who = System.getProperty("user.name", "anon")
    val ckpt = new java.io.File(
      s"$ckptBase/graft_parity_ckpt_${who}_${ProcessHandle.current().pid()}/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    val q = out.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append").start()
    try { feed(q); q.processAllAvailable() } finally q.stop()
    s.table(name)
  }

  /** Feed `rows` (already event-time sorted) into `mem` in 3 contiguous
    * time waves (operator state must span micro-batch boundaries), each
    * wave REVERSED — rows inside a batch arrive out of order, which is
    * legal at watermark delay 0 (the late filter compares against the
    * PREVIOUS batch's watermark); feeding globally reversed would instead
    * make every later wave late-dropped data, testing the drop path, not
    * the operator. Then the far-future pushers drain pending state. */
  private def waves(mem: MemoryStream[Row], rows: Seq[Row],
      pushers: Seq[Row], q: StreamingQuery): Unit = {
    val n = rows.length
    Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
      .foreach { w => if (w.nonEmpty) { mem.addData(w.reverse: _*); q.processAllAvailable() } }
    pushers.foreach { p => mem.addData(p); q.processAllAvailable() }
  }

  private def summary(s: SparkSession, op: String,
      batch: DataFrame, streamed: DataFrame): DataFrame = {
    import s.implicits._
    // align column order, then diff the multisets DRIVER-SIDE: both sides
    // are bounded (≤ a few thousand rows from the 2k-row slice) and a
    // local counting map costs ~0 vs two exceptAll shuffles + a union.
    // Row values compare exactly (timestamps, longs, same-scale decimals)
    // — the same binary equality exceptAll used.
    val cols = batch.columns.toSeq.sorted.map(col)
    def counts(df: DataFrame): collection.mutable.Map[Seq[Any], Long] = {
      val m = collection.mutable.Map.empty[Seq[Any], Long]
      df.select(cols: _*).collect().foreach { r =>
        val k = r.toSeq; m.update(k, m.getOrElse(k, 0L) + 1L)
      }
      m
    }
    val (bc, sc) = (counts(batch), counts(streamed))
    val diff = (bc.keySet ++ sc.keySet).iterator
      .map(k => math.abs(bc.getOrElse(k, 0L) - sc.getOrElse(k, 0L))).sum
    val nonempty = bc.nonEmpty
    Seq((op, diff, nonempty)).toDF("op", "diff_rows", "nonempty")
  }

  private def oracleRow(op: String): String =
    s"SELECT '$op' AS op, CAST(0 AS BIGINT) AS diff_rows, true AS nonempty"

  // MATCH_RECOGNIZE: A+ B runs, ONE ROW PER MATCH — flatMapGroupsWithState
  // NFA with watermark-exact emission vs the batch kernel
  private def pairCep(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    val in = slice(s, dir).select(col("user_id"), col("ets"), col("value"))
    val rows = in.orderBy(col("ets")).collect().toSeq
    val defines = Seq("A" -> (col("value") < 100), "B" -> (col("value") >= 100))
    val measures = Seq(
      Measure("start_ts", "first", "A", "ets"),
      Measure("n_low", "count", "A", "*"),
      Measure("high_val", "last", "B", "value"))
    val mem = memStream(s, in.schema)
    val out = MatchRecognize.matchRecognizeStream(
      mem.toDF(), Seq("user_id"), "ets", defines, parsePattern("A+ B"),
      measures, watermarkDelay = Some("0 seconds"))
    val pushers = Seq(
      Row(PusherKey, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100000L)), 500.0),
      Row(PusherKey, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200000L)), 1.0))
    val streamed = drain(s, out, "parity_cep")(q => waves(mem, rows, pushers, q))
      .filter(col("user_id") =!= PusherKey)
    val batch = MatchRecognize.matchRecognize(
      in, Seq("user_id"), "ets", defines, parsePattern("A+ B"), measures)
    (batch, streamed)
  }

  // temporal as-of join: two watermarked streams through the carry-forward
  // state operator vs the batch window-function path on the same frames
  private def pairAsof(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.operators.AsOfJoin
    val ev = slice(s, dir)
    val left = ev.select(col("user_id"), col("event_id"), col("ets").as("lts"))
    val right = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ets").as("rts"), col("value").as("payload"))
    val lRows = left.orderBy(col("lts")).collect().toSeq
    val rRows = right.orderBy(col("rts")).collect().toSeq
    val lMem = memStream(s, left.schema)
    val rMem = memStream(s, right.schema)
    val out = AsOfJoin.leftAsOfStream(
      lMem.toDF(), rMem.toDF(), "user_id", "lts", "rts", Seq("payload"))
    def far(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val streamed = drain(s, out, "parity_asof") { q =>
      // interleave left/right waves so carry-forward state crosses batches
      val (ln, rn) = (lRows.length, rRows.length)
      Seq(0, 1, 2).foreach { i =>
        val lw = lRows.slice(i * ln / 3, (i + 1) * ln / 3)
        val rw = rRows.slice(i * rn / 3, (i + 1) * rn / 3)
        if (rw.nonEmpty) rMem.addData(rw: _*)
        if (lw.nonEmpty) lMem.addData(lw: _*)
        q.processAllAvailable()
      }
      Seq(100000L, 200000L).foreach { sec =>
        lMem.addData(Row(PusherKey, -1L, far(sec)))
        rMem.addData(Row(PusherKey, far(sec), 0.0))
        q.processAllAvailable()
      }
    }.filter(col("user_id") =!= PusherKey).drop("lts")
    val batch = AsOfJoin.leftAsOf(left, right, "user_id", "lts", "rts", Seq("payload"))
      .drop("lts")
    (batch, streamed)
  }

  // TUMBLE aggregation: append-mode watermark-closed windows vs batch
  // windows (decimal sum — order-independent, no FP drift in the diff)
  private def pairTumble(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.operators.Windows
    val in = slice(s, dir).select(col("user_id"), col("ets"), col("value"))
    val rows = in.orderBy(col("ets")).collect().toSeq
    def agg(df: DataFrame): DataFrame = df
      .groupBy(Windows.tumbleWindow("ets", "1 minute").as("__w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,6)")).as("sum_value"))
      .select(col("__w.start").as("window_start"),
        col("__w.end").as("window_end"), col("n_events"), col("sum_value"))
    val mem = memStream(s, in.schema)
    val out = agg(mem.toDF().withWatermark("ets", "0 seconds"))
    val pushers = Seq(
      Row(PusherKey, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100000L)), 1.0),
      Row(PusherKey, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200000L)), 1.0))
    // the event slice sits below ets=2000 s; pusher windows start ≥ 100000 s
    val streamed = drain(s, out, "parity_tumble")(q => waves(mem, rows, pushers, q))
      .filter(col("window_start") < timestamp_seconds(lit(50000)))
    (agg(in), streamed)
  }

  // event-time keep-first dedup (rn=1 special query): min-event-time row
  // per key, emitted on watermark finality, vs the batch window rank
  private def pairDedup(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.operators.StreamingDedup
    val in = slice(s, dir)
      .select(col("user_id"), col("ets"), col("event_id"), col("value"))
    // waves() reverses inside each wave: keep-first must pick the
    // minimum event time, not the first arrival
    val rows = in.orderBy(col("ets")).collect().toSeq
    val mem = memStream(s, in.schema)
    val out = StreamingDedup.keepFirstByEventTime(
      mem.toDF().withWatermark("ets", "0 seconds"), Seq("user_id"), "ets")
    val pushers = Seq(
      Row(PusherKey, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100000L)), -1L, 0.0),
      Row(PusherKey, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200000L)), -2L, 0.0))
    val streamed = drain(s, out, "parity_dedup")(q => waves(mem, rows, pushers, q))
      .filter(col("user_id") =!= PusherKey)
    val batch = in
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ets"))))
      .filter(col("__rn") === 1).drop("__rn")
    (batch, streamed)
  }

  // lookup join (r11): streaming fact enriched against a dimension
  // snapshot through the REAL user path — Flink SQL with a LOOKUP hint and
  // `FOR SYSTEM_TIME AS OF <proctime>` through FlinkDialect.rewrite, then
  // executed as a stream-static equi-join over micro-batches — vs the
  // batch join of the same rows. With a static dimension the lookup
  // contract (probe the dimension at processing time) is exactly the
  // snapshot join, so parity is exact, not approximate.
  private def pairLookup(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val in = slice(s, dir)
      .select(col("user_id"), col("event_id"), col("ets"), col("value"))
    val rows = in.orderBy(col("ets")).collect().toSeq
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    dim.createOrReplaceTempView("parity_lookup_dim")
    val mem = memStream(s, in.schema)
    mem.toDF().withWatermark("ets", "0 seconds")
      .createOrReplaceTempView("parity_lookup_fact")
    val sql = graft.engine.FlinkDialect.rewrite(
      """SELECT /*+ LOOKUP('table'='d', 'retry-predicate'='lookup_miss') */
        |  f.user_id, f.event_id, f.ets, d.c_mktsegment
        |FROM parity_lookup_fact AS f
        |JOIN parity_lookup_dim FOR SYSTEM_TIME AS OF f.ets AS d
        |  ON f.user_id = d.c_custkey""".stripMargin)
    val out = s.sql(sql)
    // no pusher (r20): the stream-static equi-join is STATELESS — each
    // micro-batch's rows join against the dimension snapshot and land in the
    // append sink in that same batch, so nothing is pending after the last
    // wave and a watermark push would only buy an empty extra micro-batch.
    // The watermark column still exists (the real user path declares it);
    // it just never gates emission for this operator. Gate-verified: diff 0
    // at sf0.001/0.01/0.1 with the pusher batch removed.
    val streamed = drain(s, out, "parity_lookup")(q => waves(mem, rows, Seq.empty, q))
      .filter(col("user_id") =!= PusherKey)
    val batch = in.join(dim, in("user_id") === dim("c_custkey"))
      .select(col("user_id"), col("event_id"), col("ets"), col("c_mktsegment"))
    (batch, streamed)
  }

  val queries: Map[String, Q] = Map(
    "q_stream_parity_cep" -> { (s, dir) => withParityConf(s) {
      val (b, st) = pairCep(s, dir); summary(s, "cep", b, st) } },
    "q_stream_parity_asof" -> { (s, dir) => withParityConf(s) {
      val (b, st) = pairAsof(s, dir); summary(s, "asof", b, st) } },
    "q_stream_parity_tumble" -> { (s, dir) => withParityConf(s) {
      val (b, st) = pairTumble(s, dir); summary(s, "tumble", b, st) } },
    "q_stream_parity_dedup" -> { (s, dir) => withParityConf(s) {
      val (b, st) = pairDedup(s, dir); summary(s, "dedup", b, st) } },
    "q_stream_parity_lookup" -> { (s, dir) => withParityConf(s) {
      val (b, st) = pairLookup(s, dir); summary(s, "lookup", b, st) } },
  )

  val oracle: Map[String, String] = Map(
    "q_stream_parity_cep" -> oracleRow("cep"),
    "q_stream_parity_asof" -> oracleRow("asof"),
    "q_stream_parity_tumble" -> oracleRow("tumble"),
    "q_stream_parity_dedup" -> oracleRow("dedup"),
    "q_stream_parity_lookup" -> oracleRow("lookup"),
  )
}
