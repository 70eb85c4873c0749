package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming semantics (SURVEY.md §2.8): windowed aggregation over
  * event time, watermark late-data drop, session windows in streaming mode,
  * and the upsert-by-primary-key sink pattern (foreachBatch merge).
  *
  * Batch equivalence of the window TVFs is covered by the DuckDB gate; these
  * specs pin the streaming-only behaviors the oracle can't see.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window over event time with watermark drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("k"), col("cnt"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("tumble_out").start()

    // batch 1: events in [00:00, 00:10) and [00:10, 00:20)
    mem.addData(
      (ts("2024-01-01 00:01:00"), "a", 1.0),
      (ts("2024-01-01 00:05:00"), "a", 1.0),
      (ts("2024-01-01 00:12:00"), "a", 1.0),
      (ts("2024-01-01 00:31:00"), "a", 1.0)) // advances watermark to 00:21
    q.processAllAvailable()

    // batch 2: a LATE event for the 00:00 window (< watermark) must be dropped
    mem.addData((ts("2024-01-01 00:02:00"), "a", 99.0))
    q.processAllAvailable()
    // close remaining windows
    mem.addData((ts("2024-01-01 01:00:00"), "a", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tumble_out")
      .collect().map(r => (r.getAs[Timestamp]("ws").toString, r.getLong(2))).toMap
    assert(rows("2024-01-01 00:00:00.0") == 2L, s"late row must not count: $rows")
    assert(rows("2024-01-01 00:10:00.0") == 1L)
  }

  test("session window merges events within gap in streaming mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = mem.toDF().toDF("ts", "uid")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "10 minutes"), col("uid"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("ss"), col("session_window.end").as("se"),
        col("uid"), col("cnt"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("session_out").start()
    mem.addData(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-01-01 00:05:00"), 1L),  // same session (gap < 10m)
      (ts("2024-01-01 00:30:00"), 1L))  // new session
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 02:00:00"), 1L)) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("session_out").orderBy("ss").collect()
      .map(r => (r.getAs[Timestamp]("ss").toString, r.getAs[Timestamp]("se").toString, r.getLong(3)))
    assert(rows.length >= 2)
    assert(rows(0) == ("2024-01-01 00:00:00.0", "2024-01-01 00:15:00.0", 2L))
    assert(rows(1) == ("2024-01-01 00:30:00.0", "2024-01-01 00:40:00.0", 1L))
  }

  test("upsert sink: foreachBatch merge keyed by primary key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    // upsert state — what an upsert-kafka/JDBC sink would hold
    val state = scala.collection.concurrent.TrieMap.empty[Long, (String, Double)]
    val q = mem.toDF().toDF("id", "status", "amount")
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // keep last row per key within the batch, then merge into state
        batch.withColumn("__rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("id")).orderBy(monotonically_increasing_id().desc)))
          .filter(col("__rn") === 1).drop("__rn")
          .collect().foreach(r => state.put(r.getLong(0), (r.getString(1), r.getDouble(2))))
      }
      .start()
    mem.addData((1L, "open", 10.0), (2L, "open", 20.0), (1L, "paid", 15.0))
    q.processAllAvailable()
    mem.addData((2L, "cancelled", 0.0))
    q.processAllAvailable()
    q.stop()
    assert(state(1L) == ("paid", 15.0))
    assert(state(2L) == ("cancelled", 0.0))
  }

  test("elasticsearch streaming sink: per-batch bulk NDJSON, replay gives latest state") {
    implicit val sqlCtx = spark.sqlContext
    graft.engine.TableEnv.clear()
    val spool = java.nio.file.Files.createTempDirectory("graft-es-stream").toString
    graft.engine.TableEnv.createTable(spark,
      s"""CREATE TABLE es_st (id BIGINT, status STRING, PRIMARY KEY (id) NOT ENFORCED)
         |WITH ('connector'='elasticsearch-7','index'='orders','path'='$spool')""".stripMargin)
    val b = graft.engine.TableEnv.lookup("es_st").get
    val mem = MemoryStream[(Long, String)]
    val name = graft.engine.TableEnv.startStreamingInsert(spark, b,
      mem.toDF().toDF("id", "status"))
    try {
      mem.addData((1L, "open"), (2L, "open"))
      spark.streams.active.find(_.name == name).foreach(_.processAllAvailable())
      mem.addData((1L, "paid"))
      spark.streams.active.find(_.name == name).foreach(_.processAllAvailable())
      // replay the spool in lexicographic path order (bulk-* subdirs are
      // monotonic per flush): last action per _id wins
      val lines = spark.read.option("recursiveFileLookup", "true").text(spool)
        .select(input_file_name().as("f"), col("value"))
        .collect().sortBy(_.getString(0)).map(_.getString(1))
      val states = scala.collection.mutable.Map.empty[String, String]
      lines.sliding(2).foreach {
        case Array(a, doc) if a.startsWith("""{"index"""") =>
          val id = """"_id":"(\d+)"""".r.findFirstMatchIn(a).map(_.group(1))
          val st = """"status":"(\w+)"""".r.findFirstMatchIn(doc).map(_.group(1))
          for (i <- id; s <- st) states(i) = s
        case _ => ()
      }
      assert(lines.count(_.contains(""""_id":"1"""")) == 2)
      // the replayed end state is exact: id 1 upgraded to paid, id 2 open
      assert(states.get("1").contains("paid"), states.toString)
      assert(states.get("2").contains("open"), states.toString)
    } finally graft.engine.Jobs.stopAll()
  }

  test("flagship tumble aggregation: streaming result == batch result on real data") {
    // stream the events parquet as a file source and run the flagship window
    // aggregation; on bounded input the streamed result must equal batch
    val dir = java.nio.file.Files.createTempDirectory("graft-evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("events.parquet")),
      dir.resolve("events.parquet"))
    val batchEvents = Tables.load(spark, sfDir, "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // watermarks require TimestampType (not NTZ); UTC session = same wall clock
    val rawSchema = spark.read.parquet(dir.toString).schema
    val streamEvents = {
      val s = spark.readStream.schema(rawSchema).parquet(dir.toString)
      rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => s.withColumn("ts", col("ts").cast("timestamp"))
      }
    }
    val agg = streamEvents
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("cnt"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("flagship_stream").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("flagship_stream")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = batchEvents
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // append mode emits only windows closed by the final watermark — every
    // emitted window must match batch exactly, and nearly all windows close
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, v) => assert(batch(k) == v, s"window $k: stream $v vs batch ${batch(k)}") }
    assert(streamed.size >= batch.size - 10, s"${streamed.size} vs ${batch.size}")
  }

  test("streaming incremental dedup: a document stream flags dups vs static history") {
    // the daily-ingest shape as a stream: the bloom is built once from the
    // STATIC history at plan time, and both confirmation joins are
    // stream-static broadcasts — so the operator runs unchanged on a
    // streaming new-batch, with results equal to the batch run
    val dir = java.nio.file.Files.createTempDirectory("graft-incstream")
    val docs = Tables.load(spark, sfDir, "documents")
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    newBatch.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
    val out = graft.pipeline.Dedup.incrementalDedup(stream, history, "doc_id", "text",
      expectedItems = 1L << 16)
    assert(out.isStreaming)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("inc_dedup_stream").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000), "incremental dedup stream did not finish")
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    val streamed = spark.table("inc_dedup_stream").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val batch = graft.pipeline.Dedup.incrementalDedup(newBatch, history, "doc_id", "text",
        expectedItems = 1L << 16)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(streamed == batch, s"stream ${streamed.size} rows vs batch ${batch.size}")
    assert(streamed.values.exists(identity) && streamed.values.exists(!_),
      "split must produce both duplicates and new docs")
  }

  test("streaming corpus ingestion: exact dedup + phash + quality run on a document stream") {
    // the pipeline operators are plain projections/stateful dedup, so they
    // run unchanged on a streaming ingest: exact-dedup keep-first via
    // dropDuplicates on the content digest, with phash + quality computed
    // in the same pass. On bounded input the kept set must equal the batch
    // keeper set (first arrival == min id here because the file source
    // reads in order, but the CONTENT of the survivors is what we pin:
    // one doc per distinct digest, with the same digests as batch).
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("documents.parquet")),
      dir.resolve("documents.parquet"))
    val stream = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
      .select(col("doc_id"),
        md5(graft.pipeline.Dedup.normalize(col("text"))).as("digest"),
        graft.pipeline.Multimodal.perceptualHash(encode(col("text"), "UTF-8")).as("ph"),
        graft.functions.TextExprs.quality_stats(col("text"),
          graft.pipeline.TextAnalysis.StopWords).getItem(0).as("n_words"))
      .dropDuplicates("digest")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("corpus_ingest").trigger(Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000), "corpus ingest stream did not finish in time")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    val streamed = spark.table("corpus_ingest").collect()
    val batchDigests = Tables.load(spark, sfDir, "documents")
      .select(md5(graft.pipeline.Dedup.normalize(col("text"))).as("digest"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(streamed.map(_.getAs[String]("digest")).toSet == batchDigests,
      "streaming keep-first must retain exactly one doc per distinct digest")
    assert(streamed.length == batchDigests.size)
    // the projections computed on the stream equal their batch values
    val batchByDoc = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.pipeline.Multimodal.perceptualHash(encode(col("text"), "UTF-8")).as("ph"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    streamed.foreach { r =>
      assert(r.getAs[Long]("ph") == batchByDoc(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("n_words") > 0)
    }
  }

  test("datagen (rate) streaming source produces typed rows continuously") {
    engine.TableEnv.clear()
    val b = engine.TableEnv.parseCreateTable(
      "CREATE TABLE r (id BIGINT, name STRING, amount DOUBLE) WITH ('connector'='datagen','rows-per-second'='500')")
    val df = engine.TableEnv.streamDF(spark, b)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSet == Set("timestamp", "id", "name", "amount"))
    val q = df.writeStream.format("memory").queryName("rate_out")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    try {
      var tries = 0
      while (spark.table("rate_out").isEmpty && tries < 50) { Thread.sleep(200); tries += 1 }
      val rows = spark.table("rate_out")
      assert(!rows.isEmpty, "rate source produced no rows in 10s")
      assert(rows.schema("id").dataType.typeName == "long")
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE: exactly-once emission as the watermark passes matches") {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val df = mem.toDF().toDF("k", "ts", "price")
    val out = MatchRecognize.matchRecognizeStream(
      df, Seq("k"), "ts",
      defines = Seq("A" -> (col("price") < 100), "B" -> (col("price") >= 100)),
      pattern = parsePattern("A+ B"),
      measures = Seq(
        Measure("start_ts", "first", "A", "ts"),
        Measure("b_val", "last", "B", "price"),
        Measure("mno", "match_number", "", "")),
      watermarkDelay = Some("0 seconds"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cep_stream_out")
      .outputMode("append").start()
    def rows() = spark.table("cep_stream_out")
      .collect().map(r => (r.getAs[Timestamp]("start_ts"), r.getAs[Double]("b_val"), r.getAs[Long]("mno")))
    try {
      // key 1: L L H — a complete match, but its last row sits AT the
      // watermark (ts == wm is not immutable), so nothing emits yet
      mem.addData((1, ts("2024-01-01 00:00:10"), 10.0),
        (1, ts("2024-01-01 00:00:11"), 20.0),
        (1, ts("2024-01-01 00:00:12"), 150.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "match emitted while its last row was still mutable")
      // the next event pushes the watermark past the match → exactly-once
      // emission; the new open A+ run must NOT leak
      mem.addData((1, ts("2024-01-01 00:01:10"), 50.0))
      q.processAllAvailable()
      assert(rows().toSeq == Seq((ts("2024-01-01 00:00:10"), 150.0, 1L)))
      // …until its B arrives; MATCH_NUMBER continues per key
      mem.addData((1, ts("2024-01-01 00:01:11"), 500.0))
      q.processAllAvailable()
      // watermark advancement from ANOTHER key drains key 1 via event-time
      // timeout — key 1 itself receives no more rows
      mem.addData((2, ts("2024-01-01 00:02:00"), 1.0))
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:02:10"), 1.0))
      q.processAllAvailable()
      val got = rows().toSeq.sortBy(_._3)
      assert(got == Seq(
        (ts("2024-01-01 00:00:10"), 150.0, 1L),
        (ts("2024-01-01 00:01:10"), 500.0, 2L)), got.toString)
    } finally q.stop()
  }

  test("streaming CEP PREV navigation: stream==batch parity with context retention") {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val df = mem.toDF().toDF("k", "ts", "price")
    // rising runs via PREV on the STREAMING path: B+ alone, so the row after
    // a completed match navigates to the match's last row — which only works
    // if the operator retains it as context after emission
    val out = MatchRecognize.matchRecognizeStream(
      df, Seq("k"), "ts",
      defines = Seq("B" -> expr("price > __nav_prev_B_price_1")),
      pattern = parsePattern("B+"),
      measures = Seq(
        Measure("first_p", "first", "B", "price"),
        Measure("last_p", "last", "B", "price"),
        Measure("n", "count", "B", "*")),
      watermarkDelay = Some("0 seconds"),
      defineNavs = Seq(DynNavSpec("__nav_prev_B_price_1", "prev", "B", "price", 1)))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cep_prev_stream")
      .outputMode("append").start()
    try {
      val data = Seq(1.0, 3.0, 2.0, 5.0, 7.0, 4.0).zipWithIndex.map { case (p, i) =>
        (1, ts(f"2024-01-01 00:00:${10 + i}%02d"), p)
      }
      mem.addData(data.take(3): _*)
      q.processAllAvailable()
      mem.addData(data.drop(3): _*)
      q.processAllAvailable()
      // watermark pushes from another key drain key 1 via event-time timeout
      mem.addData((2, ts("2024-01-01 00:10:00"), 1.0))
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:10:10"), 1.0))
      q.processAllAvailable()
      val streamed = spark.table("cep_prev_stream").collect()
        .map(r => (r.getAs[Double]("first_p"), r.getAs[Double]("last_p"), r.getAs[Long]("n")))
        .toSeq.sortBy(_._1)
      assert(streamed == Seq((3.0, 3.0, 1L), (5.0, 7.0, 2L)), streamed.toString)
      // parity with the batch lag/lead path on the same rows
      spark.createDataFrame(data).toDF("k", "ts", "price")
        .createOrReplaceTempView("cep_prev_batch")
      val batch = MatchRecognize.sql(spark,
        """SELECT * FROM cep_prev_batch MATCH_RECOGNIZE (
          |  PARTITION BY k ORDER BY ts
          |  MEASURES FIRST(B.price) AS first_p, LAST(B.price) AS last_p, COUNT(B.*) AS n
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (B+)
          |  DEFINE B AS B.price > PREV(B.price)
          |)""".stripMargin).collect()
        .map(r => (r.getAs[Double]("first_p"), r.getAs[Double]("last_p"), r.getAs[Long]("n")))
        .toSeq.sortBy(_._1)
      assert(batch == streamed, s"batch=$batch streamed=$streamed")
    } finally q.stop()
  }

  test("streaming CEP FIRST/LAST navigation in DEFINE emits watermark-exactly") {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val df = mem.toDF().toDF("k", "ts", "price")
    // A anchor, B+ strictly below the anchor's value (cross-variable FIRST)
    val out = MatchRecognize.matchRecognizeStream(
      df, Seq("k"), "ts",
      defines = Seq(
        "A" -> expr("true"),
        "B" -> expr("price < __nav_first_A_price_0")),
      pattern = parsePattern("A B+"),
      measures = Seq(
        Measure("anchor", "first", "A", "price"),
        Measure("n_below", "count", "B", "*")),
      watermarkDelay = Some("0 seconds"),
      defineNavs = Seq(DynNavSpec("__nav_first_A_price_0", "first", "A", "price", 0)))
    val q = out.writeStream.format("memory").queryName("cep_fl_stream")
      .outputMode("append").start()
    try {
      // the 50.0 row breaks the second below-run: a greedy B+ that touches
      // the frontier is held (future rows could extend it), so each match
      // needs a closing row to emit — same contract as Flink's greedy CEP
      mem.addData(
        (1, ts("2024-01-01 00:00:10"), 10.0), (1, ts("2024-01-01 00:00:11"), 5.0),
        (1, ts("2024-01-01 00:00:12"), 7.0), (1, ts("2024-01-01 00:00:13"), 12.0),
        (1, ts("2024-01-01 00:00:14"), 3.0), (1, ts("2024-01-01 00:00:15"), 50.0))
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:10:00"), 1.0))
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:10:10"), 1.0))
      q.processAllAvailable()
      val got = spark.table("cep_fl_stream").collect()
        .map(r => (r.getAs[Double]("anchor"), r.getAs[Long]("n_below"))).toSeq.sortBy(_._1)
      // anchor 10 -> below-run {5,7}; anchor 12 -> below-run {3}
      assert(got == Seq((10.0, 2L), (12.0, 1L)), got.toString)
    } finally q.stop()
  }

  test("streaming CEP: an unreferenced NEXT slot never holds a decidable match") {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val df = mem.toDF().toDF("k", "ts", "price")
    // B (NEXT-using) is defined but absent from the pattern; evaluating C
    // must not compute B's NEXT slot — doing so at the last mature row would
    // flag the frontier and hold the (A C) match forever
    val out = MatchRecognize.matchRecognizeStream(
      df, Seq("k"), "ts",
      defines = Seq(
        "A" -> expr("true"),
        "C" -> expr("price < __nav_first_A_price_0"),
        "B" -> expr("price > __nav_next_B_price_1")),
      pattern = parsePattern("A C"),
      measures = Seq(
        Measure("anchor", "first", "A", "price"),
        Measure("c_val", "last", "C", "price")),
      watermarkDelay = Some("0 seconds"),
      defineNavs = Seq(
        DynNavSpec("__nav_first_A_price_0", "first", "A", "price", 0),
        DynNavSpec("__nav_next_B_price_1", "next", "B", "price", 1)))
    val q = out.writeStream.format("memory").queryName("cep_mask_stream")
      .outputMode("append").start()
    try {
      mem.addData((1, ts("2024-01-01 00:00:10"), 10.0), (1, ts("2024-01-01 00:00:11"), 5.0))
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:10:00"), 1.0))
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:10:10"), 1.0))
      q.processAllAvailable()
      val got = spark.table("cep_mask_stream").collect()
        .map(r => (r.getAs[Double]("anchor"), r.getAs[Double]("c_val"))).toSeq
      assert(got == Seq((10.0, 5.0)), got.toString)
    } finally q.stop()
  }

  test("streaming CUMULATE: expanding windows aggregate (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    // 10-minute step, 30-minute size; the explode projection is streaming-
    // safe (pure per-row), the aggregation runs as an ordinary keyed agg —
    // Flink's retract stream ≈ update/complete mode here
    val cum = graft.operators.Windows.cumulate(mem.toDF().toDF("ts", "v"), "ts", 600, 1800)
      .groupBy($"window_start", $"window_end").agg(sum($"v").as("s"))
    val q = cum.writeStream.format("memory").queryName("cum_out")
      .outputMode("complete").start()
    try {
      mem.addData((ts("2024-01-01 00:05:00"), 1.0), (ts("2024-01-01 00:12:00"), 2.0))
      q.processAllAvailable()
      val rows = spark.table("cum_out").orderBy("window_end").collect()
        .map(r => (r.getAs[Timestamp]("window_end").toString, r.getDouble(2)))
      assert(rows.toSeq == Seq(
        ("2024-01-01 00:10:00.0", 1.0),   // only the 00:05 event
        ("2024-01-01 00:20:00.0", 3.0),   // both
        ("2024-01-01 00:30:00.0", 3.0)))  // both
      // late-arriving earlier event updates the already-open windows
      mem.addData((ts("2024-01-01 00:02:00"), 10.0))
      q.processAllAvailable()
      val rows2 = spark.table("cum_out").orderBy("window_end").collect()
        .map(r => (r.getAs[Timestamp]("window_end").toString, r.getDouble(2)))
      assert(rows2.toSeq == Seq(
        ("2024-01-01 00:10:00.0", 11.0),
        ("2024-01-01 00:20:00.0", 13.0),
        ("2024-01-01 00:30:00.0", 13.0)))
    } finally q.stop()
  }

  test("streaming CUMULATE parity: expansion-path stream == two-phase batch") {
    // WHY the streaming path keeps the row-expansion shape (and the
    // CumulateTwoPhase rule excludes streaming plans): the two-phase scheme
    // chains TWO aggregations, and the second one groups by derived
    // window_start/window_end columns — not a fixed-size time window over
    // the watermarked column, which is the only chained-stateful-agg shape
    // Spark's streaming planner admits (append-mode window-on-window), and
    // CUMULATE's growing windows cannot be expressed as one. The expansion
    // path keeps a SINGLE stateful aggregation — watermark-legal in every
    // output mode — at size/step input expansion, exactly the per-step
    // state Flink's own cumulate operator materializes. This spec pins the
    // two paths to identical results on the same rows.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Windows
    val mem = MemoryStream[(Timestamp, String, Double)]
    val cum = Windows.cumulate(mem.toDF().toDF("ts", "k", "v"), "ts", 600, 1800)
      .groupBy($"window_start", $"window_end", $"k")
      .agg(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(v as decimal(18,4))) as double)").as("sv"))
    val q = cum.writeStream.format("memory").queryName("cum_parity")
      .outputMode("complete").start()
    try {
      val data = Seq(
        (ts("2024-01-01 00:05:00"), "a", 1.0), (ts("2024-01-01 00:12:00"), "a", 2.0),
        (ts("2024-01-01 00:27:00"), "b", 4.0), (ts("2024-01-01 00:29:59"), "a", 8.0),
        (ts("2024-01-01 00:31:00"), "b", 16.0)) // second aligned 30-min window
      mem.addData(data: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Timestamp]("window_start").toString,
          r.getAs[Timestamp]("window_end").toString,
          r.getAs[String]("k"), r.getAs[Long]("cnt"), r.getAs[Double]("sv"))
      val streamed = spark.table("cum_parity").collect().map(key).toSet
      val batch = Windows.cumulativeAgg(data.toDF("ts", "k", "v"), "ts", 600, 1800,
          Seq("k"), Seq(Windows.CumAgg.count("cnt"), Windows.CumAgg.dsum("v", "sv")))
        .collect().map(key).toSet
      assert(streamed == batch, s"stream:\n${streamed.mkString("\n")}\nbatch:\n${batch.mkString("\n")}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming CUMULATE bounded state: window-struct grouping evicts closed size-windows") {
    // the complete-mode expansion path holds every window ever seen; this
    // shape groups by the event-time window STRUCT so Spark evicts a
    // size-window's steps once the watermark passes its end — the bounded-
    // state production form (size/step open steps per key, like Flink)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Windows
    val mem = MemoryStream[(Timestamp, String, Double)]
    val src = mem.toDF().toDF("ts", "k", "v").withWatermark("ts", "0 seconds")
    val out = Windows.cumulateStreamingAgg(src, "ts", 600, 1800, Seq("k"),
      Seq(count(lit(1)).as("cnt"),
        expr("cast(sum(cast(v as decimal(18,4))) as double)").as("sv")))
    val q = out.writeStream.format("memory").queryName("cum_bounded")
      .outputMode("update").start()
    try {
      val w0 = Seq((ts("2024-01-01 00:05:00"), "a", 1.0), (ts("2024-01-01 00:12:00"), "a", 2.0))
      mem.addData(w0: _*)
      q.processAllAvailable()
      // next aligned size-window; first batch also advances the watermark
      // past w0's end so the following batch evicts w0's state
      mem.addData((ts("2024-01-01 02:00:00"), "b", 5.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:10:00"), "b", 6.0))
      q.processAllAvailable()
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      // only the OPEN 02:00 window's 3 step-groups may remain; 6 would mean
      // the struct lost its event-time tag and w0 was never evicted
      assert(stateRows == 3, s"expected 3 live state rows (open window only), got $stateRows")
      // refinement correctness: the max update per (window, key) — counts
      // and positive sums grow monotonically — equals the batch expansion
      val finalRows = spark.table("cum_bounded")
        .groupBy("window_start", "window_end", "k")
        .agg(max("cnt").as("cnt"), max("sv").as("sv"))
      val all = w0 ++ Seq((ts("2024-01-01 02:00:00"), "b", 5.0), (ts("2024-01-01 02:10:00"), "b", 6.0))
      val batch = Windows.cumulate(all.toDF("ts", "k", "v"), "ts", 600, 1800)
        .groupBy($"window_start", $"window_end", $"k")
        .agg(count(lit(1)).as("cnt"),
          expr("cast(sum(cast(v as decimal(18,4))) as double)").as("sv"))
      assert(finalRows.exceptAll(batch).isEmpty && batch.exceptAll(finalRows).isEmpty,
        s"stream refinements:\n${finalRows.orderBy("window_end", "k").collect().mkString("\n")}\n" +
          s"batch:\n${batch.orderBy("window_end", "k").collect().mkString("\n")}")
      assert(finalRows.count() > 0)
    } finally q.stop()
  }

  test("SQL CUMULATE on a stream: dialect injects the window struct for bounded state") {
    // the Flink-SQL path must get the same bounded-state shape as
    // cumulateStreamingAgg: the dialect projects the aligned size-window
    // struct as __w and adds it to the GROUP BY (batch granularity is
    // unchanged — __w ↔ window_start), so the streaming aggregation carries
    // the watermark tag and closed windows are evicted
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.toDF().toDF("ts", "k", "v").withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("cum_sql_src")
    val sql = """SELECT window_start, window_end, k, COUNT(*) AS cnt
                |FROM TABLE(CUMULATE(TABLE cum_sql_src, DESCRIPTOR(ts), INTERVAL '10' MINUTES, INTERVAL '30' MINUTES))
                |GROUP BY window_start, window_end, k""".stripMargin
    val rewritten = graft.engine.FlinkDialect.rewrite(sql)
    assert(rewritten.contains("`__w`, "), s"window struct not injected:\n$rewritten")
    val df = spark.sql(rewritten)
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("cum_sql_out")
      .outputMode("update").start()
    try {
      mem.addData((ts("2024-01-01 00:05:00"), "a", 1.0), (ts("2024-01-01 00:12:00"), "a", 2.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:00:00"), "b", 5.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:10:00"), "b", 6.0))
      q.processAllAvailable()
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      assert(stateRows == 3,
        s"closed size-window not evicted through the SQL path: $stateRows state rows")
      // refinements match the batch operator on the same rows
      val finalRows = spark.table("cum_sql_out")
        .groupBy("window_start", "window_end", "k").agg(max("cnt").as("cnt"))
      val batch = graft.operators.Windows.cumulate(
          Seq((ts("2024-01-01 00:05:00"), "a", 1.0), (ts("2024-01-01 00:12:00"), "a", 2.0),
            (ts("2024-01-01 02:00:00"), "b", 5.0), (ts("2024-01-01 02:10:00"), "b", 6.0))
            .toDF("ts", "k", "v"), "ts", 600, 1800)
        .groupBy($"window_start", $"window_end", $"k").agg(count(lit(1)).as("cnt"))
      assert(finalRows.exceptAll(batch).isEmpty && batch.exceptAll(finalRows).isEmpty)
      assert(finalRows.count() > 0)
    } finally q.stop()
  }

  test("stream-stream interval join: time-bounded equi-join with watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val sm = MemoryStream[(Long, Timestamp)]
    val pm = MemoryStream[(Long, Long, Timestamp)]
    val signups = sm.toDF().toDF("user_id", "s_ts").withWatermark("s_ts", "1 minute")
    val purchases = pm.toDF().toDF("p_user", "p_id", "p_ts").withWatermark("p_ts", "1 minute")
    // Flink interval join: purchases within 30 minutes after a signup
    val joined = signups.join(purchases,
      expr("user_id = p_user AND p_ts > s_ts AND p_ts <= s_ts + INTERVAL 30 MINUTES"))
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory").queryName("ssij_out")
      .outputMode("append").start()
    try {
      sm.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
      pm.addData(
        (1L, 10L, ts("2024-01-01 00:10:00")), // in window
        (1L, 11L, ts("2024-01-01 00:50:00")), // outside 30m
        (3L, 12L, ts("2024-01-01 00:05:00"))) // no matching signup
      q.processAllAvailable()
      sm.addData((9L, ts("2024-01-01 02:00:00"))) // advance watermark
      pm.addData((9L, 99L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssij_out").filter($"user_id" < 9)
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("p_id")))
      assert(rows.toSeq == Seq((1L, 10L)), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming as-of join matches the batch operator on the same data") {
    import graft.operators.AsOfJoin
    implicit val sqlCtx = spark.sqlContext
    // irregular left/right event times over 5 keys, incl. exact-ts versions
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    val leftRows = (0 until 300).map { i =>
      (i % 5L, i.toLong, new Timestamp(base + rnd.nextInt(3600) * 1000L))
    }
    // unique (key, ts) versions — the operator's documented requirement
    val rightRows = (0 until 80).map { i =>
      (i % 5L, s"v$i", new Timestamp(base + rnd.nextInt(3600) * 1000L))
    }.groupBy(r => (r._1, r._3)).map(_._2.head).toSeq
    val batchOut = AsOfJoin.leftAsOf(
      leftRows.toDF("k", "lid", "lts"),
      rightRows.toDF("k", "payload", "rts"),
      "k", "lts", "rts", Seq("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("payload"))).toSet
    val lm = MemoryStream[(Long, Long, Timestamp)]
    val rm = MemoryStream[(Long, String, Timestamp)]
    // the synthetic timestamps are fully shuffled across one hour, so the
    // watermark delay must cover that disorder or Spark drops rows as late
    val out = AsOfJoin.leftAsOfStream(
      lm.toDF().toDF("k", "lid", "lts"),
      rm.toDF().toDF("k", "payload", "rts"),
      "k", "lts", "rts", Seq("payload"), watermarkDelay = "2 hours")
    val q = out.writeStream.format("memory").queryName("asof_stream_out")
      .outputMode("append").start()
    try {
      leftRows.grouped(77).zipAll(rightRows.grouped(21), Nil, Nil).foreach { case (lc, rc) =>
        if (lc.nonEmpty) lm.addData(lc)
        if (rc.nonEmpty) rm.addData(rc)
        q.processAllAvailable()
      }
      // drive the watermark (max event - 2h) past the one-hour data range
      lm.addData((99L, 0L, new Timestamp(base + 6 * 3600 * 1000L)))
      rm.addData((99L, "z", new Timestamp(base + 6 * 3600 * 1000L)))
      q.processAllAvailable()
      lm.addData((99L, 1L, new Timestamp(base + 7 * 3600 * 1000L)))
      rm.addData((99L, "z2", new Timestamp(base + 7 * 3600 * 1000L)))
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_out")
        .filter($"k" < 90).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("payload"))).toSet
      assert(streamed == batchOut,
        s"diverged: extra=${streamed.diff(batchOut).take(5)} missing=${batchOut.diff(streamed).take(5)}")
    } finally q.stop()
  }

  test("streaming as-of join emits a held row in the first batch whose watermark passes it") {
    import graft.operators.AsOfJoin
    implicit val sqlCtx = spark.sqlContext
    val lm = MemoryStream[(Long, Long, Timestamp)]
    val rm = MemoryStream[(Long, String, Timestamp)]
    val out = AsOfJoin.leftAsOfStream(
      lm.toDF().toDF("k", "lid", "lts"),
      rm.toDF().toDF("k", "payload", "rts"),
      "k", "lts", "rts", Seq("payload"), watermarkDelay = "1 second")
    val q = out.writeStream.format("memory").queryName("asof_step_out")
      .outputMode("append").start()
    def emitted(): Map[Long, String] = spark.table("asof_step_out").collect()
      .map(r => r.getAs[Long]("lid") -> r.getAs[String]("payload")).toMap
    try {
      // both sides at 00:20 → watermark 00:19; key 1 holds a version at 00:19.2
      lm.addData((9L, 0L, ts("2024-01-01 00:00:20")))
      rm.addData((9L, "r", ts("2024-01-01 00:00:20")), (1L, "v1", ts("2024-01-01 00:00:19.2")))
      q.processAllAvailable()
      // key 1's left row at 00:19.5 is above the 00:19 watermark: held
      lm.addData((1L, 1L, ts("2024-01-01 00:00:19.5")))
      q.processAllAvailable()
      assert(emitted().isEmpty)
      // both sides at 00:20.6 → watermark 00:19.6 passes the held rows of key 1
      // only; key 1 gets no new input, so only its timer can emit it
      lm.addData((9L, 2L, ts("2024-01-01 00:00:20.6")))
      rm.addData((9L, "r2", ts("2024-01-01 00:00:20.6")))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!emitted().contains(1L) && System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(emitted() == Map(1L -> "v1"), s"got ${emitted()}")
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE matches the batch operator on the same data") {
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    implicit val sqlCtx = spark.sqlContext
    val data = (0 until 200).map { i =>
      (i % 3, ts(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), if (i % 7 < 5) (i % 90).toDouble else 100.0 + i)
    }
    val defines = Seq("A" -> (col("price") < 100), "B" -> (col("price") >= 100))
    val measures = Seq(
      Measure("start_ts", "first", "A", "ts"),
      Measure("n_low", "count", "A", "*"),
      Measure("b_val", "last", "B", "price"))
    val batch = MatchRecognize.matchRecognize(
      data.toDF("k", "ts", "price"), Seq("k"), "ts", defines, parsePattern("A+ B"), measures)
      .collect().map(r => (r.getInt(0), r.getAs[Timestamp](1), r.getLong(2), r.getDouble(3))).toSet
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val out = MatchRecognize.matchRecognizeStream(
      mem.toDF().toDF("k", "ts", "price"), Seq("k"), "ts", defines,
      parsePattern("A+ B"), measures, watermarkDelay = Some("0 seconds"))
    val q = out.writeStream.format("memory").queryName("cep_parity_out")
      .outputMode("append").start()
    try {
      data.grouped(37).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // push the watermark past everything so held matches drain
      mem.addData((9, ts("2024-01-01 01:00:00"), 1.0)); q.processAllAvailable()
      mem.addData((9, ts("2024-01-01 01:10:00"), 1.0)); q.processAllAvailable()
      val streamed = spark.table("cep_parity_out")
        .collect().map(r => (r.getInt(0), r.getAs[Timestamp](1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch, s"stream/batch diverged: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("streaming CEP holds a later alternative while a preferred one spans the frontier") {
    // PATTERN (A B B | C) with A and C sharing a predicate: rows r0=50
    // (A or C), r1=150 (B) buffered — alternative 1 (A B B) needs a row
    // beyond the frontier, alternative 2 (C) matches NOW. Emitting C early
    // contradicts the batch result once r2=150 arrives and the PREFERRED
    // A B B completes; the emit condition must hold whenever ANY attempted
    // alternative touched the frontier
    import graft.operators.MatchRecognize
    import graft.operators.MatchRecognize._
    implicit val sqlCtx = spark.sqlContext
    val defines = Seq("A" -> (col("price") < 100), "B" -> (col("price") >= 100),
      "C" -> (col("price") < 100))
    val measures = Seq(Measure("n_rows", "count", "A", "*"),
      Measure("c_rows", "count", "C", "*"))
    val alts = parseAlternatives("A B B | C")
    val data = Seq((1, ts("2024-01-01 00:00:01"), 50.0),
      (1, ts("2024-01-01 00:00:02"), 150.0), (1, ts("2024-01-01 00:00:03"), 150.0))
    val batch = MatchRecognize.matchRecognize(
      data.toDF("k", "ts", "price"), Seq("k"), "ts", defines, alts.head, measures,
      altPatterns = alts.tail)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((1L, 0L)), s"batch must prefer A B B: $batch")
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val out = MatchRecognize.matchRecognizeStream(
      mem.toDF().toDF("k", "ts", "price"), Seq("k"), "ts", defines, alts.head,
      measures, watermarkDelay = Some("0 seconds"), altPatterns = alts.tail)
    val q = out.writeStream.format("memory").queryName("cep_altfront_out")
      .outputMode("append").start()
    try {
      // waves: (r0, r1) mature first — the moment the buggy condition
      // emitted C — then r2, then watermark pushers drain
      mem.addData(data(0), data(1)); q.processAllAvailable()
      mem.addData(data(2)); q.processAllAvailable()
      mem.addData((9, ts("2024-01-01 01:00:00"), 1.0)); q.processAllAvailable()
      mem.addData((9, ts("2024-01-01 01:10:00"), 1.0)); q.processAllAvailable()
      val streamed = spark.table("cep_altfront_out")
        .filter(col("k") === 1).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"stream/batch diverged: $streamed vs $batch")
    } finally q.stop()
  }

  test("event-time dedup keeps the min-rowtime row, not the first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val src = mem.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 minutes")
    val out = graft.operators.StreamingDedup.keepFirstByEventTime(src, Seq("k"), "ts")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("etd_out").start()
    try {
      // k=1: the 00:10 row arrives FIRST; the true minimum 00:07 arrives in a
      // later batch but inside the 5-minute lateness bound (00:07 >= the
      // 00:05 watermark), so it must replace the earlier arrival
      mem.addData((1, ts("2024-01-01 00:10:00"), 10.0))
      q.processAllAvailable()
      mem.addData((1, ts("2024-01-01 00:07:00"), 7.0),
        (2, ts("2024-01-01 00:08:00"), 8.0))
      q.processAllAvailable()
      // nothing final yet (watermark 00:05 is still behind the candidates)
      assert(spark.table("etd_out").isEmpty)
      // advance the watermark past both candidates → exactly one row per key
      mem.addData((3, ts("2024-01-01 01:00:00"), 99.0))
      q.processAllAvailable()
      mem.addData((3, ts("2024-01-01 02:00:00"), 99.0)) // let the wm tick again
      q.processAllAvailable()
      val rows = spark.table("etd_out")
        .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
      assert(rows(1) == 7.0, s"must keep min event time, got $rows")
      assert(rows(2) == 8.0)
      // a duplicate arriving AFTER emission stays suppressed
      mem.addData((1, ts("2024-01-01 03:00:00"), 77.0))
      q.processAllAvailable()
      mem.addData((3, ts("2024-01-01 04:00:00"), 99.0))
      q.processAllAvailable()
      assert(spark.table("etd_out").filter(col("k") === 1).count() == 1)
    } finally q.stop()
  }

  test("event-time dedup: null-rowtime-only keys hold no state; a later real row wins") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val src = mem.toDF().toDF("k", "ts", "v").withWatermark("ts", "5 minutes")
    val out = graft.operators.StreamingDedup.keepFirstByEventTime(src, Seq("k"), "ts")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("etd_null_out").start()
    try {
      // k=7 only ever has null rowtimes — must never emit AND never hold
      // state (a (None,false) slot + timer would re-fire forever);
      // k=5 starts null, then a real row arrives and proceeds normally
      mem.addData((7, null, 1.0), (5, null, 2.0))
      q.processAllAvailable()
      mem.addData((6, ts("2024-01-01 01:00:00"), 60.0)) // move the watermark
      q.processAllAvailable()
      mem.addData((5, ts("2024-01-01 01:10:00"), 5.5))
      q.processAllAvailable()
      mem.addData((6, ts("2024-01-01 02:00:00"), 61.0))
      q.processAllAvailable()
      mem.addData((6, ts("2024-01-01 03:00:00"), 62.0)) // let the wm tick again
      q.processAllAvailable()
      val rows = spark.table("etd_null_out")
        .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
      assert(!rows.contains(7), s"null-rowtime key must never emit: $rows")
      assert(rows(5) == 5.5 && rows(6) == 60.0, s"got $rows")
      // state rows = one emitted flag per emitted key (5 and 6) — the
      // null-only key 7 must not occupy a slot
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      assert(stateRows == 2, s"expected 2 state rows (emitted flags), got $stateRows")
    } finally q.stop()
  }

  test("event-time dedup emits a quiet key in the first batch whose watermark passes it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val src = mem.toDF().toDF("k", "ts", "v").withWatermark("ts", "1 second")
    val out = graft.operators.StreamingDedup.keepFirstByEventTime(src, Seq("k"), "ts")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("etd_timer_out").start()
    def emitted(): Set[Int] = spark.table("etd_timer_out").collect().map(_.getInt(0)).toSet
    try {
      mem.addData((1, ts("2024-01-01 00:00:20"), 1.0)) // watermark → 00:19
      q.processAllAvailable()
      mem.addData((2, ts("2024-01-01 00:00:19.5"), 2.0)) // key A: above 00:19, pending
      q.processAllAvailable()
      assert(emitted().isEmpty)
      // watermark → 00:19.6: passes A (quiet from here on), not the 00:20 row
      mem.addData((3, ts("2024-01-01 00:00:20.6"), 3.0))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!emitted().contains(2) && System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(emitted() == Set(2), s"got ${emitted()}")
    } finally q.stop()
  }

  test("streaming interval join: time-range condition matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    // Flink's interval join: orders joined to shipments within [0, 10 min]
    // after the order. Spark's stream-stream join with a time-range
    // condition + watermarks bounds both sides' state to the interval width.
    val memO = MemoryStream[(Int, Timestamp)]
    val memS = MemoryStream[(Int, Timestamp)]
    val o = memO.toDF().toDF("k", "ots").withWatermark("ots", "1 minute")
    val s = memS.toDF().toDF("sk", "sts").withWatermark("sts", "1 minute")
    val joined = o.join(s, expr(
      "k = sk AND sts BETWEEN ots AND ots + INTERVAL 10 MINUTES"))
      .select(col("k"), col("ots"), col("sts"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ij_out").start()
    try {
      memO.addData((1, ts("2024-01-01 00:00:00")), (2, ts("2024-01-01 00:05:00")))
      memS.addData(
        (1, ts("2024-01-01 00:04:00")),  // in range for k=1
        (1, ts("2024-01-01 00:20:00")),  // out of range (>10 min after)
        (2, ts("2024-01-01 00:04:00")))  // BEFORE the k=2 order → no match
      q.processAllAvailable()
      memO.addData((8, ts("2024-01-01 01:00:00"))) // advance watermarks
      memS.addData((9, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val got = spark.table("ij_out").collect()
        .map(r => (r.getInt(0), r.getAs[Timestamp](1), r.getAs[Timestamp](2))).toSet
      assert(got == Set((1, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:04:00"))),
        s"got $got")
    } finally q.stop()
  }

  test("streaming window join: stream-stream join on (window, key) matches batch") {
    implicit val sqlCtx = spark.sqlContext
    // Flink's WINDOW JOIN: both sides windowed by the same tumble, joined on
    // (window, key). Spark's stream-stream join bounds state via equality on
    // the window struct (the documented time-window-join shape) — rows of a
    // window can only match rows of the same window, so state is dropped
    // once the watermark passes window end.
    val memL = MemoryStream[(Timestamp, Int, Double)]
    val memR = MemoryStream[(Timestamp, Int, Double)]
    def sideify(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "1 minute")
      .select(window(col("ts"), "10 minutes").as("w"), col("k"), col("v"))
    val l = sideify(memL.toDF().toDF("ts", "k", "v"))
    val r = sideify(memR.toDF().toDF("ts", "k", "v")).withColumnRenamed("v", "rv")
    val joined = l.join(r, Seq("w", "k"))
      .select(col("w.start").as("ws"), col("k"), col("v"), col("rv"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("wj_out").start()
    try {
      // window [00:00,00:10): L has k=1 (two rows) and k=2; R has k=1 and k=3
      // → inner join emits 2×1 rows for k=1, none for k=2/k=3.
      // k=1 in a LATER window must not match the earlier window's rows.
      memL.addData((ts("2024-01-01 00:01:00"), 1, 10.0),
        (ts("2024-01-01 00:02:00"), 1, 11.0), (ts("2024-01-01 00:03:00"), 2, 20.0))
      memR.addData((ts("2024-01-01 00:04:00"), 1, 100.0),
        (ts("2024-01-01 00:05:00"), 3, 300.0),
        (ts("2024-01-01 00:12:00"), 1, 101.0))
      q.processAllAvailable()
      memL.addData((ts("2024-01-01 01:00:00"), 8, 0.0)) // advance watermarks
      memR.addData((ts("2024-01-01 01:00:00"), 9, 0.0)) // (disjoint keys: no match)
      q.processAllAvailable()
      val got = spark.table("wj_out")
        .collect().map(rw => (rw.getInt(1), rw.getDouble(2), rw.getDouble(3))).toSet
      assert(got == Set((1, 10.0, 100.0), (1, 11.0, 100.0)), s"got $got")
      // batch parity: the same join on static frames
      val bl = Seq((ts("2024-01-01 00:01:00"), 1, 10.0),
        (ts("2024-01-01 00:02:00"), 1, 11.0), (ts("2024-01-01 00:03:00"), 2, 20.0))
        .toDF("ts", "k", "v")
      val br = Seq((ts("2024-01-01 00:04:00"), 1, 100.0),
        (ts("2024-01-01 00:05:00"), 3, 300.0), (ts("2024-01-01 00:12:00"), 1, 101.0))
        .toDF("ts", "k", "v")
      val batch = sideify(bl).join(sideify(br).withColumnRenamed("v", "rv"), Seq("w", "k"))
        .select(col("k"), col("v"), col("rv"))
        .collect().map(rw => (rw.getInt(0), rw.getDouble(1), rw.getDouble(2))).toSet
      assert(batch == got, s"stream/batch diverged: $batch vs $got")
    } finally q.stop()
  }

  test("streaming window top-N: rank computed per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.toDF().toDF("ts", "k", "v").withWatermark("ts", "1 minute")
      .createOrReplaceTempView("wtn_src")
    val stmt =
      """SELECT window_start, k, total, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start, window_end ORDER BY total DESC) AS rn
        |  FROM (SELECT window_start, window_end, k, SUM(v) AS total
        |        FROM TABLE(TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        |        GROUP BY window_start, window_end, k)
        |) WHERE rn <= 2""".stripMargin
    val rewritten = graft.operators.StreamingTopN.rewrite(
      spark, stmt, graft.engine.FlinkDialect.rewrite)
    assert(rewritten.isDefined, "window top-N pattern must be recognized")
    val (inner, transform) = rewritten.get
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    val q = inner.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        transform(b).collect().foreach(r =>
          collected += ((r.getAs[String]("k"), r.getAs[Double]("total"), r.getAs[Long]("rn").toString.toLong)))
        ()
      }.start()
    try {
      // one window [00:00, 00:10): totals a=5, b=3, c=1 → top-2 = a, b
      mem.addData(
        (ts("2024-01-01 00:01:00"), "a", 2.0), (ts("2024-01-01 00:02:00"), "a", 3.0),
        (ts("2024-01-01 00:03:00"), "b", 3.0), (ts("2024-01-01 00:04:00"), "c", 1.0))
      q.processAllAvailable()
      assert(collected.isEmpty) // window still open
      mem.addData((ts("2024-01-01 00:30:00"), "z", 0.0)) // close it
      q.processAllAvailable()
      assert(collected.toSet == Set(("a", 5.0, 1L), ("b", 3.0, 2L)),
        s"got $collected")
    } finally q.stop()
    // WHERE rn = 1 (window deduplication) and keys-first GROUP BY order are
    // recognized too, with ORDER BY allowed to be an expression
    val dedupStmt =
      """SELECT window_start, k, total, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start, window_end ORDER BY ABS(total) DESC) AS rn
        |  FROM (SELECT window_start, window_end, k, SUM(v) AS total
        |        FROM TABLE(TUMBLE(TABLE wtn_src, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        |        GROUP BY k, window_start, window_end)
        |) WHERE rn = 1""".stripMargin
    val r2 = graft.operators.StreamingTopN.rewrite(
      spark, dedupStmt, graft.engine.FlinkDialect.rewrite)
    assert(r2.isDefined, "rn = 1 window-dedup shape must be recognized")
  }

  test("CURRENT_WATERMARK: NULL on batch tables; live per-batch value on streams") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val sess = gw.session(h).spark
    // batch: a watermark never exists → the function is NULL (Flink's
    // documented value before any watermark is emitted)
    gw.executeStatement(h,
      "CREATE TABLE wmb (id BIGINT, ts AS CURRENT_TIMESTAMP) WITH ('connector'='datagen','number-of-rows'='3')")
    val b = gw.fetchResults(gw.executeStatement(h,
      "SELECT DISTINCT CURRENT_WATERMARK(ts) IS NULL AS no_wm FROM wmb"), 0)
    assert(b.rows.map(_.head.toString) == Seq("true"), s"batch: $b")
    // streaming: the canonical late-row guard — admit rows while no
    // watermark exists, then only rows strictly above it
    implicit val sqlCtx = sess.sqlContext
    val mem = MemoryStream[(Int, Timestamp)]
    mem.toDF().toDF("k", "ts").withWatermark("ts", "1 minute")
      .createOrReplaceTempView("wm_src")
    val op = gw.executeStatement(h,
      "SELECT k FROM wm_src WHERE CURRENT_WATERMARK(ts) IS NULL OR ts > CURRENT_WATERMARK(ts)")
    try {
      def drain(): Unit = sess.streams.active.foreach(_.processAllAvailable())
      mem.addData((1, ts("2024-01-01 00:05:00"))); drain() // wm NULL → admitted
      mem.addData((9, ts("2024-01-01 01:00:00"))); drain() // above wm → admitted
      mem.addData((2, ts("2024-01-01 00:04:00"))); drain() // below wm → dropped
      mem.addData((3, ts("2024-01-01 01:30:00"))); drain() // above wm → admitted
      var page = gw.fetchResults(op, 0)
      var tries = 0
      while (page.rows.size < 3 && tries < 50) {
        Thread.sleep(100); page = gw.fetchResults(op, 0); tries += 1
      }
      val keys = page.rows.map(_.head.toString).toSet
      assert(keys == Set("1", "9", "3"),
        s"late row k=2 must be filtered by CURRENT_WATERMARK, got $keys")
    } finally gw.closeOperation(op)
    // aggregations would re-aggregate per micro-batch — rejected, not wrong
    val agg = gw.fetchResults(gw.executeStatement(h,
      "SELECT k, COUNT(*) AS n FROM wm_src WHERE ts > CURRENT_WATERMARK(ts) GROUP BY k"), 0)
    assert(agg.columns == Seq("error") &&
      agg.rows.head.head.toString.contains("row-level"), s"got $agg")
    // the argument must be a time attribute
    val badArg = gw.fetchResults(gw.executeStatement(h,
      "SELECT k FROM wm_src WHERE CURRENT_WATERMARK(k) IS NULL"), 0)
    assert(badArg.columns == Seq("error") &&
      badArg.rows.head.head.toString.contains("not a time attribute"), s"got $badArg")
    // an earlier EXTRACT(... FROM ts) must not misidentify the source table
    val ex = gw.executeStatement(h,
      """SELECT EXTRACT(HOUR FROM ts) AS h, k FROM wm_src
        |WHERE CURRENT_WATERMARK(ts) IS NULL OR ts > CURRENT_WATERMARK(ts)""".stripMargin)
    try {
      val p = gw.fetchResults(ex, 0)
      assert(p.columns == Seq("h", "k"), s"EXTRACT misroute: ${p.columns} ${p.rows.take(1)}")
    } finally gw.closeOperation(ex)
    // backtick-quoted table references route and substitute the same
    val bq = gw.executeStatement(h,
      "SELECT k FROM `wm_src` WHERE CURRENT_WATERMARK(ts) IS NULL OR ts > CURRENT_WATERMARK(ts)")
    try {
      val p = gw.fetchResults(bq, 0)
      assert(p.columns == Seq("k"), s"backticked table misroute: ${p.columns} ${p.rows.take(1)}")
    } finally gw.closeOperation(bq)
    // event-time dedup over a NON-binding watermarked view: the rowtime is
    // recognized from Spark's own watermark metadata, not just bindings
    val dd = gw.fetchResults(gw.executeStatement(h,
      """SELECT k FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts ASC) AS rn
        |  FROM wm_src) WHERE rn = 1""".stripMargin), 0)
    assert(dd.columns != Seq("error"), s"non-binding rowtime dedup rejected: $dd")
  }

  test("corpus quality/repetition operators run on streams: stream == batch") {
    // the per-document corpus operators are pure projections, so they apply
    // unchanged to a streaming DataFrame — pin that property end to end
    import graft.pipeline.CorpusFilters
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("documents.parquet")),
      dir.resolve("documents.parquet"))
    val batchDocs = Tables.load(spark, sfDir, "documents")
    val streamDocs = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
    val gate = CorpusFilters.qualityGate(streamDocs, "doc_id", "text",
      minWords = 20, maxMeanWordLen = 5.0)
    val q = gate.writeStream.outputMode("append").format("memory")
      .queryName("corpus_stream").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("corpus_stream")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getAs[String]("reject_reason"), r.getBoolean(r.fieldIndex("keep")))).toMap
    val batch = CorpusFilters.qualityGate(batchDocs, "doc_id", "text",
        minWords = 20, maxMeanWordLen = 5.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getAs[String]("reject_reason"), r.getBoolean(r.fieldIndex("keep")))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.values.exists(_._3) && streamed.values.exists(!_._3))
  }

  test("state TTL: keyed aggregation state evicts after the watermark passes TTL") {
    // Flink's table.exec.state.ttl mapped to watermark-driven eviction: an
    // idle key restarts its aggregate from zero; an active key accumulates
    import graft.operators.StateTtl
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val df = mem.toDF().toDF("k", "ts", "v").withWatermark("ts", "0 seconds")
    val out = StateTtl.ttlKeyedAgg(df, Seq("k"), "ts",
      Seq(("count", "*", "cnt"), ("sum", "v", "total")), ttlMillis = 5000)
    val q = out.writeStream.format("memory").queryName("ttl_agg")
      .outputMode("update").start()
    // update-mode sink appends each refresh — latest row per key wins
    def latest(): Map[Int, (Long, Double)] =
      spark.table("ttl_agg").collect().foldLeft(Map.empty[Int, (Long, Double)]) {
        (acc, r) => acc + (r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      }
    try {
      mem.addData((1, ts("2024-01-01 00:00:10"), 1.0), (1, ts("2024-01-01 00:00:11"), 2.0))
      q.processAllAvailable()
      assert(latest()(1) == (2L, 3.0), latest().toString)
      // watermark jumps to 00:00:30 — past key 1's last update (11s) + 5s TTL
      mem.addData((2, ts("2024-01-01 00:00:30"), 9.0))
      q.processAllAvailable()
      // key 1 returns AFTER its TTL: state must have been evicted → restart
      mem.addData((1, ts("2024-01-01 00:00:31"), 5.0))
      q.processAllAvailable()
      assert(latest()(1) == (1L, 5.0), s"expired key did not restart: ${latest()}")
      // key 2 updates within its TTL window → accumulates normally
      mem.addData((2, ts("2024-01-01 00:00:33"), 1.0))
      q.processAllAvailable()
      assert(latest()(2) == (2L, 10.0), s"active key lost state: ${latest()}")
    } finally q.stop()
  }

  test("state TTL: COUNT(col) skips NULLs and accumulators keep native result types") {
    // the TTL operator must be observably identical to the native
    // aggregation it replaces: COUNT(col) ignores NULL rows (COUNT(*) does
    // not), SUM(int) stays LongType, MIN/MAX keep the input type
    import graft.operators.StateTtl
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, java.lang.Integer)]
    val df = mem.toDF().toDF("k", "ts", "v").withWatermark("ts", "0 seconds")
    val out = StateTtl.ttlKeyedAgg(df, Seq("k"), "ts",
      Seq(("count", "*", "c_all"), ("count", "v", "c_v"),
        ("sum", "v", "s"), ("min", "v", "lo"), ("max", "v", "hi")),
      ttlMillis = 60000)
    import org.apache.spark.sql.types._
    assert(out.schema("c_all").dataType == LongType)
    assert(out.schema("c_v").dataType == LongType)
    assert(out.schema("s").dataType == LongType, "SUM(INT) must stay integral (long), not double")
    assert(out.schema("lo").dataType == IntegerType, "MIN(INT) must keep the input type")
    assert(out.schema("hi").dataType == IntegerType)
    val q = out.writeStream.format("memory").queryName("ttl_typed")
      .outputMode("update").start()
    try {
      mem.addData((1, ts("2024-01-01 00:00:10"), 7), (1, ts("2024-01-01 00:00:11"), null),
        (1, ts("2024-01-01 00:00:12"), 3))
      q.processAllAvailable()
      val r = spark.table("ttl_typed").collect().last
      assert(r.getLong(1) == 3L, s"COUNT(*) must count the NULL row: $r")
      assert(r.getLong(2) == 2L, s"COUNT(v) must skip the NULL row: $r")
      assert(r.getLong(3) == 10L && r.getInt(4) == 3 && r.getInt(5) == 7, r.toString)
    } finally q.stop()
  }

  test("state TTL: double MIN/MAX use Spark's NaN-greatest order, not NaN propagation") {
    // Spark SQL sorts NaN above every value: MIN of [5.0, NaN, 3.0] is 3.0
    // and MAX is NaN. math.min/max would propagate NaN into MIN for the
    // rest of the key's TTL lifetime — a silent result change vs the
    // native aggregation whenever the TTL conf is toggled on
    import graft.operators.StateTtl
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp, Double)]
    val df = mem.toDF().toDF("k", "ts", "v").withWatermark("ts", "0 seconds")
    val out = StateTtl.ttlKeyedAgg(df, Seq("k"), "ts",
      Seq(("min", "v", "lo"), ("max", "v", "hi")), ttlMillis = 60000)
    val q = out.writeStream.format("memory").queryName("ttl_nan")
      .outputMode("update").start()
    try {
      mem.addData((1, ts("2024-01-01 00:00:10"), 5.0),
        (1, ts("2024-01-01 00:00:11"), Double.NaN),
        (1, ts("2024-01-01 00:00:12"), 3.0))
      q.processAllAvailable()
      val r = spark.table("ttl_nan").collect().last
      assert(r.getDouble(1) == 3.0, s"MIN must treat NaN as greatest: $r")
      assert(r.getDouble(2).isNaN, s"MAX of a NaN-containing group IS NaN: $r")
    } finally q.stop()
  }

  test("table.exec.state.ttl routes keyed streaming aggregation through the TTL operator") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val sess = gw.session(h).spark
    gw.executeStatement(h,
      """CREATE TABLE ttl_src (k INT, ts TIMESTAMP(3), v DOUBLE,
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
        |WITH ('connector'='datagen','rows-per-second'='100')""".stripMargin)
    // no TTL set → native update-mode aggregation path
    assert(gw.ttlAggregate(sess, "SELECT k, COUNT(*) AS c FROM ttl_src GROUP BY k").isEmpty)
    gw.executeStatement(h, "SET 'table.exec.state.ttl' = '10 min'")
    val df = gw.ttlAggregate(sess,
      "SELECT k, COUNT(*) AS c, SUM(v) AS s FROM ttl_src GROUP BY k")
    assert(df.isDefined, "TTL-shaped aggregation did not route to the TTL operator")
    assert(df.get.isStreaming && df.get.columns.toSeq == Seq("k", "c", "s"))
    assert(df.get.queryExecution.logical.toString.toLowerCase
      .contains("flatmapgroupswithstate"), df.get.queryExecution.logical.toString.take(500))
    // the output shape follows the statement's OWN select-item order — an
    // aggregate-first list must not come back keys-first, and a key omitted
    // from the list must not reappear
    val reordered = gw.ttlAggregate(sess,
      "SELECT COUNT(*) AS c, k FROM ttl_src GROUP BY k")
    assert(reordered.get.columns.toSeq == Seq("c", "k"), reordered.get.columns.toSeq)
    val keyless = gw.ttlAggregate(sess,
      "SELECT SUM(v) AS s FROM ttl_src GROUP BY k")
    assert(keyless.get.columns.toSeq == Seq("s"), keyless.get.columns.toSeq)
    // decimal aggregate input → native path (typed TTL accumulators would
    // change the result type; Spark's sum-precision widening is native-only)
    gw.executeStatement(h,
      """CREATE TABLE ttl_dec (k INT, ts TIMESTAMP(3), d DECIMAL(10,2),
        |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
        |WITH ('connector'='datagen','rows-per-second'='100')""".stripMargin)
    assert(gw.ttlAggregate(sess,
      "SELECT k, SUM(d) AS s FROM ttl_dec GROUP BY k").isEmpty,
      "decimal SUM must keep the native path")
    // outside the shape → native path (windowed agg state is already
    // watermark-bounded by Spark; GROUP BY expressions unsupported here)
    assert(gw.ttlAggregate(sess,
      "SELECT k, COUNT(*) AS c FROM ttl_src GROUP BY k % 2").isEmpty)
    assert(gw.ttlAggregate(sess,
      """SELECT window_start, COUNT(*) AS c
        |FROM TABLE(TUMBLE(TABLE ttl_src, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
        |GROUP BY window_start""".stripMargin).isEmpty)
  }

  test("streaming CEP skip modes: stream == batch parity on overlapping matches") {
    // all four AFTER MATCH SKIP modes on the streaming operator, pinned
    // against the batch path over a corpus where the overlapping modes
    // genuinely diverge from PAST LAST ROW (rising runs chain and overlap)
    import graft.operators.MatchRecognize
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(1.0, 2.0, 3.0, 1.0, 5.0, 2.0, 7.0, 8.0, 1.0).zipWithIndex.map {
      case (p, i) => (1, ts(f"2024-01-01 00:00:${10 + i}%02d"), p)
    }
    // watermark pushers on another key; descending so key 2 never matches
    // (a key-2 match could never drain — its last row sits at the watermark)
    val pushers = Seq((2, ts("2024-01-01 00:10:00"), 9.0),
      (2, ts("2024-01-01 00:10:10"), 1.0))
    def mrSql(view: String, mode: String) =
      s"""SELECT * FROM $view MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts
         |  MEASURES FIRST(A.price) AS base, LAST(B.price) AS peak, MATCH_NUMBER() AS mno
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP $mode
         |  PATTERN (A B+)
         |  DEFINE B AS B.price > PREV(B.price)
         |)""".stripMargin
    spark.createDataFrame(data ++ pushers).toDF("k", "ts", "price")
      .createOrReplaceTempView("cep_skip_batch")
    val batchByMode =
      Seq("PAST LAST ROW", "TO NEXT ROW", "TO FIRST B", "TO LAST B").map { mode =>
        val mem = MemoryStream[(Int, Timestamp, Double)]
        mem.toDF().toDF("k", "ts", "price").withWatermark("ts", "0 seconds")
          .createOrReplaceTempView("cep_skip_stream")
        val out = MatchRecognize.sql(spark, mrSql("cep_skip_stream", mode))
        assert(out.isStreaming)
        val qn = "cep_skip_out_" + mode.toLowerCase.replaceAll("\\W+", "_")
        val q = out.writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try {
          // two waves so held/overlapping attempts cross a batch boundary
          mem.addData(data.take(4): _*)
          q.processAllAvailable()
          mem.addData(data.drop(4): _*)
          q.processAllAvailable()
          pushers.foreach { p => mem.addData(p); q.processAllAvailable() }
          val streamed = spark.table(qn).collect()
            .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
            .toSeq.sorted
          val batch = MatchRecognize.sql(spark, mrSql("cep_skip_batch", mode))
            .collect()
            .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
            .toSeq.sorted
          assert(batch.nonEmpty, s"$mode: batch produced no matches — weak corpus")
          assert(streamed == batch, s"$mode: stream $streamed vs batch $batch")
          mode -> batch
        } finally q.stop()
      }.toMap
    // the corpus must actually separate the overlapping modes, or the parity
    // above is vacuous (TO LAST B legitimately coincides with PAST LAST ROW
    // here: a rising run's peak can never start a new rising run)
    assert(batchByMode("TO NEXT ROW").size > batchByMode("PAST LAST ROW").size)
    assert(batchByMode("TO FIRST B").size > batchByMode("PAST LAST ROW").size)

    // ALL ROWS PER MATCH under an overlapping skip mode: rows of overlapping
    // matches emit once per match they belong to, stream == batch
    def allRowsSql(view: String) =
      s"""SELECT * FROM $view MATCH_RECOGNIZE (
         |  PARTITION BY k ORDER BY ts
         |  MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls
         |  ALL ROWS PER MATCH
         |  AFTER MATCH SKIP TO NEXT ROW
         |  PATTERN (A B+)
         |  DEFINE B AS B.price > PREV(B.price)
         |)""".stripMargin
    val mem2 = MemoryStream[(Int, Timestamp, Double)]
    mem2.toDF().toDF("k", "ts", "price").withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("cep_skip_allrows")
    val out2 = MatchRecognize.sql(spark, allRowsSql("cep_skip_allrows"))
    val q2 = out2.writeStream.format("memory").queryName("cep_skip_allrows_out")
      .outputMode("append").start()
    try {
      mem2.addData(data: _*)
      q2.processAllAvailable()
      pushers.foreach { p => mem2.addData(p); q2.processAllAvailable() }
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs
        .map(r => (r.getAs[Int]("k"), r.getAs[Double]("price"),
          r.getAs[Long]("mno"), r.getAs[String]("cls"))).toSeq.sorted
      val streamed = shape(spark.table("cep_skip_allrows_out").collect())
      val batch = shape(MatchRecognize.sql(spark, allRowsSql("cep_skip_batch")).collect())
      assert(batch.nonEmpty && streamed == batch,
        s"ALL ROWS overlap parity: stream ${streamed.size} vs batch ${batch.size}")
      // overlap means some price participates in more than one match number
      assert(batch.groupBy(r => (r._1, r._2)).exists(_._2.map(_._3).distinct.size > 1))
    } finally q2.stop()
  }

  test("streaming INSERT resumes from its checkpoint without re-ingesting or duplicating") {
    // Exactly-once across restarts: kill the job wherever it happens to be
    // (pre- or post-commit of the first micro-batch), resubmit the SAME
    // INSERT (the binding's checkpoint option makes restarts share state),
    // and the sink must hold each input row exactly once. A naive engine
    // re-reads every source file on restart and doubles the table; one
    // that loses the checkpoint drops rows.
    import graft.engine.{Jobs, TableEnv}
    TableEnv.clear()
    val srcDir = java.nio.file.Files.createTempDirectory("graft-resume-src").toString
    val snkDir = java.nio.file.Files.createTempDirectory("graft-resume-snk").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-resume-ck").toString
    spark.range(5000).select(col("id")).repartition(10)
      .write.mode("overwrite").parquet(srcDir)
    TableEnv.createTable(spark,
      s"""CREATE TABLE rs_src (id BIGINT) WITH
         |('connector'='filesystem','path'='$srcDir','format'='parquet')""".stripMargin)
    TableEnv.createTable(spark,
      s"""CREATE TABLE rs_snk (id BIGINT) WITH
         |('connector'='filesystem','path'='$snkDir','format'='parquet',
         |'checkpoint'='$ckpt')""".stripMargin)
    val src = TableEnv.lookup("rs_src").get
    val snk = TableEnv.lookup("rs_snk").get
    def submit(): String =
      TableEnv.startStreamingInsert(spark, snk, TableEnv.streamDF(spark, src))
    def finish(name: String): Unit = {
      spark.streams.active.find(_.name == name).foreach(_.processAllAvailable())
      Jobs.stop(name)
    }
    def sinkRows(): Seq[Long] =
      try TableEnv.batchDF(spark, snk).collect().map(_.getLong(0)).toSeq
      catch { case _: Exception => Nil }
    try {
      val j1 = submit()
      Thread.sleep(300) // race the first commit on purpose
      Jobs.stop(j1)
      val partial = sinkRows()
      val j2 = submit()
      finish(j2)
      val after = sinkRows()
      assert(after.size == 5000 && after.distinct.size == 5000,
        s"resume broke exactly-once: ${after.size} rows " +
          s"(${after.size - after.distinct.size} dupes) after a stop at ${partial.size}")
      // a third submission over the exhausted checkpoint adds nothing
      val j3 = submit()
      finish(j3)
      assert(sinkRows().size == 5000, "restart over an exhausted checkpoint re-ingested")
    } finally Jobs.stopAll()
  }

  test("streaming SELECT survives a micro-batch larger than the ring buffer") {
    import graft.engine.{Gateway, TableEnv}
    TableEnv.clear()
    val gw = new Gateway(spark)
    val h = gw.openSession()
    val sess = gw.session(h).spark
    implicit val sqlCtx = sess.sqlContext
    val mem = MemoryStream[(Int, Timestamp)]
    mem.toDF().toDF("k", "ts").withWatermark("ts", "1 second")
      .createOrReplaceTempView("burst_src")
    val op = gw.executeStatement(h,
      """SELECT k, ts FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts ASC) AS rn
        |  FROM burst_src) WHERE rn = 1""".stripMargin)
    val q = sess.streams.active.head
    try {
      // 6,000 pending keys become final in ONE micro-batch once the far-future
      // row moves the watermark: every shuffle partition emits more rows than
      // the 1,000-row buffer holds, and each must still commit its state
      mem.addData((0 until 6000).map(k => (k, ts("2024-01-01 00:00:00"))))
      q.processAllAvailable()
      mem.addData((6000, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      // the last row moves the watermark past the far-future row
      mem.addData((6001, ts("2024-01-03 00:00:00")))
      var page = gw.fetchResults(op, 0)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!page.rows.lastOption.exists(_.head == 6000) && System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(100); page = gw.fetchResults(op, 0)
      }
      assert(q.isActive && q.exception.isEmpty, s"query died: ${q.exception}")
      assert(page.columns == Seq("k", "ts") && page.rows.size == 1000, s"${page.rows.size} rows")
      assert(page.rows.last.head == 6000, s"last row: ${page.rows.last}")
      // the burst's 999 rows before it are distinct burst keys
      assert(page.rows.init.map(_.head.asInstanceOf[Int]).toSet.size == 999)
    } finally gw.cancelOperation(op)
  }
}
