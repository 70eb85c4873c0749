package graft.tools

import org.apache.spark.sql.SparkSession

/** r14 (VERDICT item 4): time every gate at one decade of a ScaleUp corpus
  * and record (seconds, output rows) to a JSON file, so two runs (sf10,
  * sf100) compose into the cost-curve table in PLANS.md.
  *
  * One process per decade — several gates memoize per-JVM fixtures (IVF
  * index, bucketed digests) keyed by their input dir; mixing decades in one
  * JVM would cross-contaminate them.
  *
  * r16 changes (VERDICT items 2+6):
  *  - FULL gates force complete evaluation with the same
  *    count+bit_xor(xxhash64(*)) reduction the bounded variants use — a
  *    bare count() let Catalyst join-eliminate whole subtrees (the spans
  *    gates timed a no-op in every pre-r16 sweep) and skip trailing global
  *    sorts. Both decades of a round now share one forcing, so decade
  *    ratios stay internally consistent; pre-r16 sweep artifacts used
  *    count() and are not directly comparable.
  *  - SELF-ATTRIBUTING flags: when a gate's single-pass decade ratio vs the
  *    reference decade exceeds the flag threshold (12x for 10x data), the
  *    sweep re-runs that gate once and records BOTH passes — one-off host
  *    stalls attribute themselves in the artifact instead of needing a
  *    manual best-of-2 re-attribution afterwards (PLANS.md "Fourth-decade
  *    sweep with bounded-output variants": every r15 >15x flag collapsed
  *    to 1.6-4.3x under exactly this treatment).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=target/sf10f  runMain graft.tools.SweepScale out10.json
  *   SPARK_GRAFT_SF_DIR=target/sf100f runMain graft.tools.SweepScale out100.json skip=out10.json
  * With skip=, a gate is SKIPPED (named) when the reference decade measured
  * it output-explosive (>3M rows) or already slow (>120 s) — those are the
  * disk-bound CEP/top-N/extraction gates the sweep deliberately bounds. */
object SweepScale {

  /** Per-table comparison of two digest.json payloads (tools/CorpusDigest):
    * one message per mismatching or missing table; empty = match. `h2`
    * participates only when both sides carry it (v1 digests don't). */
  def compareDigests(expected: String, actual: String): Seq[String] = {
    def parse(s: String): Map[String, Map[String, Long]] =
      """"([A-Za-z0-9_]+)":\{([^}]*)\}""".r.findAllMatchIn(s).map { m =>
        m.group(1) -> """"(\w+)":(-?\d+)""".r.findAllMatchIn(m.group(2))
          .map(f => f.group(1) -> f.group(2).toLong).toMap
      }.toMap
    val e = parse(expected)
    val a = parse(actual)
    e.keys.toSeq.sorted.flatMap { t =>
      a.get(t) match {
        case None => Seq(s"table $t: missing from actual digest")
        case Some(av) =>
          Seq("rows", "h", "h2").flatMap { k =>
            (e(t).get(k), av.get(k)) match {
              case (Some(x), Some(y)) if x != y =>
                Some(s"table $t: $k $y != expected $x")
              case _ => None
            }
          }
      }
    } ++
      // symmetric: a corpus that GAINED a table is not the expected corpus
      // either (r18 ADVICE — iterating only expected keys let that pass)
      (a.keySet -- e.keySet).toSeq.sorted.map(t => s"table $t: unexpected in actual digest")
  }

  /** Tables whose parquet part files no longer match the file fingerprint
    * recorded in their digest entry — i.e. the corpus was regenerated
    * WITHOUT re-digesting, so the digest certifies nothing (the stale-
    * digest hazard of a fingerprint stored inside the directory it
    * certifies). v1 digests carry no fingerprint and can't be checked. */
  def staleTables(digestJson: String, dir: String): Seq[String] =
    """"([A-Za-z0-9_]+)":\{([^}]*)\}""".r.findAllMatchIn(digestJson).flatMap { m =>
      val t = m.group(1)
      val f = """"(\w+)":(-?\d+)""".r.findAllMatchIn(m.group(2))
        .map(x => x.group(1) -> x.group(2).toLong).toMap
      (f.get("files"), f.get("bytes")) match {
        case (Some(fn), Some(fb)) =>
          val (an, ab) = CorpusDigest.fileStats(new java.io.File(dir, t + ".parquet"))
          if (an != fn || ab != fb)
            Some(s"table $t: files/bytes now $an/$ab, digested at $fn/$fb")
          else None
        case _ => None
      }
    }.toSeq

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("sweep_out.json")
    // tolerate extra fields after "rows" (r16: flagged entries carry
    // "passes"/"ratio1" evidence)
    val skipRef: Map[String, (Double, Long)] = args.find(_.startsWith("skip="))
      .map(_.stripPrefix("skip="))
      .map { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        """"([^"]+)":\{"sec":([0-9.]+),"rows":(\d+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toLong)).toMap
      }.getOrElse(Map.empty)
    // exclude=a,b,c: gates KNOWN env-bounded at this decade (the spans
    // family's gram shuffle is linear in corpus bytes by design and needs
    // cluster scratch — at sf100 it fills the sandbox's local disk, and a
    // disk-full KILLS the SparkContext, cascading spurious failures into
    // every later gate (measured r16). A named skip keeps the artifact
    // honest; the bound itself is documented in PLANS.md.
    val exclude: Set[String] = args.find(_.startsWith("exclude="))
      .map(_.stripPrefix("exclude=").split(",").map(_.trim).toSet)
      .getOrElse(Set.empty)
    // only=a,b: measure just these gates (a catch-up run after a JVM
    // casualty — merge the partial artifacts afterwards)
    val only: Option[Set[String]] = args.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").map(_.trim).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf10f")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MEM_FRACTION (r17): A/B knob for the uniform-heap
    // finding — at a 64 GB heap the wide-shuffle gates ran ~2x slower than
    // at 8 GB (giant in-memory sort/aggregate runs vs spill-merge of small
    // runs). Capping spark.memory.fraction at a big heap emulates the
    // small-heap execution-memory budget without its OOM exposure; the
    // probe attributes the mechanism instead of leaving it a hypothesis.
    // parsed ONCE, failing fast: the value feeds both the Spark config and
    // the per-gate JSON stamp — a non-numeric env value previously reached
    // the artifact verbatim and broke downstream parsing of the whole
    // sweep file (r17 ADVICE)
    val memFraction: Option[Double] = sys.env.get("SPARK_GRAFT_MEM_FRACTION").map { f =>
      try f.toDouble catch {
        case _: NumberFormatException =>
          sys.error(s"SPARK_GRAFT_MEM_FRACTION must be numeric, got '$f'")
      }
    }
    // digest=<expected.json> (r18, verdict #6): decade ratios only mean
    // something when both decades and both rounds read the SAME corpus —
    // refuse by name when the target dir's content digest mismatches the
    // recorded one (or is stale: corpus regenerated without re-digesting).
    val digestPath = java.nio.file.Paths.get(sfDir, "digest.json")
    args.find(_.startsWith("digest=")).map(_.stripPrefix("digest=")) match {
      case Some(ep) =>
        require(java.nio.file.Files.exists(digestPath),
          s"corpus $sfDir has no digest.json — run graft.tools.CorpusDigest '$sfDir' first")
        val actual = new String(
          java.nio.file.Files.readAllBytes(digestPath), "UTF-8")
        val stale = staleTables(actual, sfDir)
        require(stale.isEmpty, s"digest.json in $sfDir is STALE (corpus " +
          s"regenerated without re-digesting): ${stale.mkString("; ")} — " +
          s"re-run graft.tools.CorpusDigest '$sfDir'")
        val expected = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(ep)), "UTF-8")
        val mismatches = compareDigests(expected, actual)
        require(mismatches.isEmpty, s"corpus $sfDir does NOT match the " +
          s"recorded digest $ep: ${mismatches.mkString("; ")} — a sweep " +
          "would compare decade ratios across different corpora")
        println(s"[sweep] corpus digest OK vs $ep")
      case None =>
        println(if (java.nio.file.Files.exists(digestPath))
          "[sweep] corpus has digest.json (pass digest=<expected.json> to enforce identity)"
        else
          "[sweep] corpus has NO digest.json — cross-round identity unchecked")
    }
    // SparkContext settings go in as system properties, which SparkConf
    // reads at create. K-pass position slices don't delta-compress in
    // arrival order, so uncompressed DISK_ONLY scratch ran 40 GB for one
    // sf100 spans gate (measured r18); lz4 on write-once/read-once blocks is
    // the right trade at every decade this sweep runs
    sys.props("spark.rdd.compress") = "true"
    memFraction.foreach(f => sys.props("spark.memory.fraction") = f.toString)
    val spark = graft.engine.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM nation").collect()
    // warm the OS page cache with a raw sequential read of every data file
    // (parquet count-star reads only footers, so timed gates would otherwise
    // pay the corpus's first-touch disk I/O in whichever gate runs first —
    // at sf100 that put ~12s of cold scan into q_subq_in's reading, r14):
    // decade ratios should measure COMPUTE scaling
    locally {
      val t0 = System.nanoTime()
      val buf = new Array[Byte](1 << 20)
      var bytes = 0L
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try stream.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        val in = java.nio.file.Files.newInputStream(p)
        try { var n = 0; while ({ n = in.read(buf); n >= 0 }) bytes += n }
        finally in.close()
      } finally stream.close()
      println(f"[sweep] warmed ${bytes / 1e9}%.1f GB in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // entry: (best sec, rows, all passes — singleton unless flag-rerun)
    val results =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long, Seq[Double])]
    val skipped = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-gate environment stamp (r16 verdict #4: sf100 artifacts mixed
    // 8 GB and 96 GB readings across catch-up runs with nothing in the
    // artifact saying so). heap_gb = this JVM's -Xmx; spans_passes = the
    // K-pass knob when set. Stamped on EVERY gate so merged partial
    // artifacts stay per-gate-attributed.
    val heapGb = math.round(Runtime.getRuntime.maxMemory / 1e8) / 10.0
    val spansPasses = sys.env.get("SPARK_GRAFT_SPANS_PASSES").map(_.toInt)
    def envStamp(name: String): String =
      ",\"heap_gb\":" + heapGb +
        (if (spansPasses.isDefined && name.contains("spans"))
           ",\"spans_passes\":" + spansPasses.get
         else "") +
        memFraction.map(f => ",\"mem_fraction\":" + f).getOrElse("")
    // incremental persistence (r16): a gate that OOMs the local JVM kills
    // the SparkContext in local mode (executor == driver), and everything
    // after it fails spuriously — persist after every gate so a death
    // preserves the artifact up to the killer, which the next run excludes
    def persist(): Unit = {
      val json = "{" +
        results.map { case (n, (s, r, passes)) =>
          val extra = if (passes.size > 1)
            ",\"passes\":[" + passes.map(p => f"$p%.3f").mkString(",") + "]"
          else ""
          "\"" + n + "\":{\"sec\":" + f"$s%.3f" + ",\"rows\":" + r + extra +
            envStamp(n) + "}"
        }.mkString(",") + "}"
      java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
      if (skipped.nonEmpty) {
        val sj = "{" + skipped.map { case (n, why) =>
          "\"" + n + "\":\"" + why.replace("\"", "'") + "\"" }.mkString(",") + "}"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out.replace(".json", "_skipped.json")),
          sj.getBytes("UTF-8"))
      }
    }
    def bailIfDead(after: String): Unit =
      if (spark.sparkContext.isStopped) {
        persist()
        println(s"[sweep] ABORT: SparkContext died at/after '$after' (local-" +
          "mode JVM casualty — likely executor OOM or disk-full). Artifact " +
          s"persisted through the last completed gate; re-run with exclude=$after,…")
        sys.exit(1)
      }
    // K-pass spans gates persist their position unions DISK_ONLY (r18:
    // Dedup.slicedPositions' default — block-manager scratch, no temp
    // dirs); at sf100 those unions are 10s of GB per gate and Dataset
    // persistence is CacheManager-pinned (the ContextCleaner never drops
    // it), so release explicitly between gates. The tmpdir purge stays
    // for pre-r18 runs' leftover parquet scratch (the old default).
    def purgeSpansScratch(): Unit = {
      val released = graft.pipeline.Dedup.releaseSpansScratch(spark)
      if (released > 0) println(s"[sweep] released $released K-pass scratch slices")
      // explicit SPARK_GRAFT_SPANS_SCRATCH parquet scratch: caller-owned —
      // this run is the caller, purge between gates
      sys.env.get("SPARK_GRAFT_SPANS_SCRATCH").foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty).foreach(rm)
      }
      System.gc()
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft-spans-kpass-"))
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(): Unit
          }
          rm(d)
        }
    }
    val flagRatio = 12.0 // ~linear decade growth is 2-10x; beyond reads as a stall
    def forcedOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long) = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // bit_xor, not sum: xxhash64 spans the full long range, so an ANSI
      // sum overflows after two rows; xor is overflow-free and still
      // order-independent.
      // r18 (verdict #7 A/B, PLANS.md "Sweep forcing: native xxhash64
      // fold"): hash columns NATIVELY —
      // the r16-r17 cast-to-string fold paid Java double/long formatting
      // per output cell, a cost that scales with OUTPUT rows, not corpus
      // bytes (q_corpus_repetition at sf100: 30.7 s cast vs 25.8 s native;
      // a per-column arithmetic fold is WORSE, 54.9 s — it defeats
      // aggregate fusion). Forcing strength is unchanged: every column is
      // fully evaluated into the hash. Map-typed columns keep the string
      // cast (xxhash64 refuses MapType — map equality has no canonical
      // order). Both r18 decades use this fold, so decade ratios stay
      // internally consistent; pre-r18 artifacts used the cast fold.
      def forceRepr(c: String): String =
        if (df.schema(c).dataType.catalogString.contains("map<"))
          s"cast(`$c` as string)"
        else s"`$c`"
      val row = df.agg(count(lit(1)).as("n"),
        expr(df.columns.map(forceRepr)
          .mkString("bit_xor(xxhash64(", ", ", "))")).as("h"))
        .collect()(0)
      ((System.nanoTime() - t0) / 1e9, row.getLong(0))
    }
    // measure once; if the decade ratio vs the reference decade flags, take
    // ONE more pass and keep the min — both passes land in the artifact
    def measure(label: String, refName: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try {
        val (s1, rows) = forcedOnce(fn)
        val ref = skipRef.get(refName).map(_._1).filter(_ > 0.05)
        // K-pass spans gates EXPECT a super-linear decade ratio vs a
        // single-pass reference decade: the knob deliberately trades
        // wall-clock (K gram-stream recomputations) for shuffle scratch —
        // the stamp attributes it, a stall re-run would just double the cost
        val kPassSpans = spansPasses.exists(_ > 1) && label.contains("spans")
        val flagged = ref.exists(r => s1 / r > flagRatio) && !kPassSpans
        val passes = if (flagged) {
          println(f"[sweep] FLAG $label: $s1%.2f s is ${s1 / ref.get}%.1fx the " +
            f"reference decade — taking a second pass")
          // a failed CONFIRMATION pass must not discard the completed
          // measurement (r18: the 64 GB phash census's flag rerun OOM'd
          // after a clean 250 s first pass and the gate recorded as FAIL)
          // Throwable, not Exception: the motivating r18 failure WAS an
          // OutOfMemoryError (an Error, which escaped the old handler and
          // killed the sweep with the clean first pass in hand). Catching
          // it HERE is sound: the rerun's partial state is a discarded
          // DataFrame action, and the sweep's next gates get the same
          // heap they'd have had without the rerun (r18 ADVICE).
          try { val (s2, _) = forcedOnce(fn); Seq(s1, s2) }
          catch {
            case e: Throwable =>
              println(s"[sweep] flag-rerun of $label failed " +
                s"(${e.getClass.getSimpleName}) — keeping the completed first pass")
              Seq(s1)
          }
        } else Seq(s1)
        val best = passes.min
        results(label) = (best, rows, passes)
        println(f"[sweep] $label%-36s $best%8.2f s  $rows%12d rows" +
          (if (passes.size > 1) f"  (passes ${passes.map(p => f"$p%.2f").mkString("/")})" else ""))
      } catch {
        case e: Exception =>
          skipped(label) = s"ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
          println(s"[sweep] FAIL $label: ${skipped(label)}")
      } finally { purgeSpansScratch(); persist(); bailIfDead(label) }
    // Bounded-output variant (r15, VERDICT item 3): the skipped gates are
    // exactly the stateful/explosive operators whose scale behavior matters
    // most (CEP, session windows, top-N, LAG/LEAD, phash pairs). Run the
    // SAME operator but reduce its output to one row — the forced reduction
    // without the multi-GB row dump that made the full gate disk-bound.
    // Recorded as `<gate>__agg`; rows = the operator's own output
    // cardinality, so per-output-row cost still composes.
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      if (exclude(name)) {
        skipped(name) = "excluded by name from this run (measured " +
          "separately at different settings and merged via the per-gate " +
          "env stamps, or env-bounded at this decade; see PLANS.md)"
        println(s"[sweep] SKIP $name: ${skipped(name)}")
      } else skipRef.get(name) match {
        case Some((_, rows)) if rows > 3000000L =>
          skipped(name) = s"output-explosive at reference decade ($rows rows)"
          println(s"[sweep] SKIP $name: ${skipped(name)} -> bounded variant")
          // the __agg variant's own reference-decade timing gates it: only
          // the >120 s rule applies (its output is always one row)
          skipRef.get(name + "__agg") match {
            case Some((asec, _)) if asec > 120.0 =>
              skipped(name + "__agg") = f"bounded variant already $asec%.1f s at reference decade"
              println(s"[sweep] SKIP ${name}__agg: ${skipped(name + "__agg")}")
            case _ => measure(name + "__agg", name + "__agg", fn)
          }
        case Some((sec, _)) if sec > 120.0 =>
          skipped(name) = f"already $sec%.1f s at reference decade"
          println(s"[sweep] SKIP $name: ${skipped(name)}")
        case _ =>
          measure(name, name, fn)
          // reference decade: an output-explosive full gate's bounded
          // anchor for the next decade. Full and bounded are the SAME
          // measurement under the unified forcing (neither dumps rows), so
          // alias instead of re-running.
          results.get(name).filter(_._2 > 3000000L)
            .foreach(r => results(name + "__agg") = r)
      }
    }
    persist()
    println(s"[sweep] wrote $out (${results.size} gates, ${skipped.size} skipped)")
    spark.stop()
  }
}
