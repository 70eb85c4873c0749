package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r20 (journal "Not yet optimized" #4): stage-by-stage attribution of
  * q_boilerplate_ngrams at a decade corpus. The gate is ONE scan + ONE
  * shuffle by design, yet reads 45-316 s at sf100 with enormous variance
  * across hosts and passes — the signature of a spill/GC-bound aggregate.
  *
  * First probe pass (this host, sf100f, 16g/32cpu, one JVM, in order):
  *   explode   5.9 s   250,704,000 rows   scan+kernel+xxhash64 is CHEAP
  *   narrow  116.7 s    12,235,046 rows   groupBy(hash){count,min} NO strings
  *   current 140.4 s    12,235,046 rows   + min(gram) string in the buffer
  * i.e. the aggregate itself is the cost: ~240M distinct gram_hash groups,
  * nearly all singletons, ground through partial+final hash tables that
  * combine almost nothing and spill constantly (guide §2.3 "aggregate
  * before you shuffle" presumes combining helps; here it cannot).
  *
  * Variants (select with BOILER_ONLY=<substring>, fresh JVM per variant for
  * honest numbers; BOILER_PARTS overrides spark.sql.shuffle.partitions):
  *   explode    scan + word_ngrams kernel + explode + xxhash64 (no agg)
  *   narrow     groupBy(gram_hash){count, min(doc_id)} — no string carry
  *   sortagg    repartition(hash) + sortWithinPartitions + streaming
  *              run-length count (manual sort-based aggregate: no hash
  *              tables at all; sort of 16-byte rows is radix + spill-merge)
  *   current    the declared gate shape
  *   twopass    sortagg decide pass + broadcast-semi-join string re-attach
  *              (timed END TO END, unlike probe v1 whose by-name bug left
  *              the decide pass outside the timer)
  * Every variant prints (rows, xor-hash) — value-identity is asserted by
  * fingerprint equality against `current`, including 64-bit collision
  * behavior (counts group by gram_hash everywhere; min(gram) aggregates
  * the same per-hash row set).
  *
  *   SPARK_DRIVER_MEM=16g SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=target/sf100f \
  *     sbt "runMain graft.tools.BoilerProbe"
  */
object BoilerProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf100f")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("BOILER_PARTS", cpus)
    sys.props("spark.rdd.compress") = "true" // a SparkContext setting: read at create
    val spark = graft.engine.GraftSession.create(s"local[$cpus]", parts.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM nation").collect()

    // spill accounting per timed block (listener events are async — settle)
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        spillMem.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
        spillDisk.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled): Unit
      }
    })

    def forced(label: String, mk: => DataFrame): (Double, Long, Long) = {
      Thread.sleep(300)
      val (m0, d0) = (spillMem.get(), spillDisk.get())
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val df = mk
      val row = df.agg(count(lit(1)).as("n"),
        expr(df.columns.map(c => s"`$c`")
          .mkString("bit_xor(xxhash64(", ", ", "))")).as("h"))
        .collect()(0)
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      Thread.sleep(300)
      println(f"[boiler] $label%-10s $s%8.2f s  rows=${row.getLong(0)}%12d  " +
        f"h=${row.getLong(1)}%20d  spill_mem=${(spillMem.get() - m0) / 1e9}%.1fG " +
        f"disk=${(spillDisk.get() - d0) / 1e9}%.1fG  parts=$parts")
      (s, row.getLong(0), row.getLong(1))
    }

    import graft.pipeline.CorpusFilters
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val (n, minDocs) = (5, 2)

    def exploded = docs.select(col("doc_id"),
        explode(CorpusFilters.wordGrams(col("text"), n, distinct = true)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram_hash"), col("gram"))

    def narrow = exploded.select("doc_id", "gram_hash")
      .groupBy("gram_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

    // manual sort-based aggregate: one exchange of 16-byte rows, zero hash
    // tables; (hash, doc_id)-sorted stream => run length = n_docs, first
    // row of each run = min(doc_id)
    def sortagg: DataFrame = {
      import spark.implicits._
      val ds = exploded.select(col("gram_hash"), col("doc_id"))
        .repartition(col("gram_hash"))
        .sortWithinPartitions("gram_hash", "doc_id")
        .as[(Long, Long)]
      ds.mapPartitions { it =>
        new Iterator[(Long, Long, Long)] {
          private var cur: (Long, Long) = if (it.hasNext) it.next() else null
          private var out: (Long, Long, Long) = null
          private def advance(): Unit = {
            out = null
            while (out == null && cur != null) {
              val h = cur._1; val firstDoc = cur._2
              var cnt = 1L
              var nxt: (Long, Long) = if (it.hasNext) it.next() else null
              while (nxt != null && nxt._1 == h) {
                cnt += 1; nxt = if (it.hasNext) it.next() else null
              }
              cur = nxt
              if (cnt >= minDocs) out = (h, cnt, firstDoc)
            }
          }
          advance()
          def hasNext: Boolean = out != null
          def next(): (Long, Long, Long) = { val r = out; advance(); r }
        }
      }.toDF("gram_hash", "n_docs", "first_doc")
    }

    def current = CorpusFilters.boilerplateNgramsHashed(
      docs, "doc_id", "text", n = n, minDocs = minDocs)

    // end-to-end two-pass: decide on narrow rows (sort aggregate), re-attach
    // the representative string to survivors only via broadcast semi join
    def twopass: DataFrame = {
      val cnts = sortagg.localCheckpoint()
      val reps = exploded
        .join(broadcast(cnts.select("gram_hash")), Seq("gram_hash"), "left_semi")
        .groupBy("gram_hash").agg(min(col("gram")).as("gram"))
      reps.join(cnts, "gram_hash").select("gram", "n_docs", "first_doc")
    }

    val only = sys.env.get("BOILER_ONLY")
    def run(label: String)(mk: => DataFrame): Option[(Double, Long, Long)] =
      if (only.forall(label.contains)) Some(forced(label, mk)) else None

    // BOILER_AB=p1,p2: interleaved A/B of `narrow` across shuffle-partition
    // counts in ONE JVM — the only defensible comparison on a host whose
    // window noise is ±60% (shuffle.partitions is a runtime conf, so each
    // pass re-plans with its own reduce-side group density)
    sys.env.get("BOILER_AB").foreach { spec =>
      val ps = spec.split(",").map(_.trim)
      (1 to 2).foreach { round =>
        ps.foreach { p =>
          spark.conf.set("spark.sql.shuffle.partitions", p)
          forced(s"narrow@$p#$round", narrow)
        }
      }
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }

    run("explode")(exploded)
    run("narrow")(narrow)
    run("sortagg")(sortagg)
    val c = run("current")(current)
    val t = run("twopass")(twopass)
    for (cc <- c; tt <- t)
      println(s"[boiler] twopass == current: ${tt._2 == cc._2 && tt._3 == cc._3}")
    spark.stop()
  }
}
