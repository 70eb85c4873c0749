package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.RollingHashes.rolling_hashes

/** Deduplication operators for large-scale text corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * 100 TB design rules baked in:
  *  - no cross joins: candidate generation is always a shuffle on a bounded
  *    blocking key (hash group, LSH band bucket, simhash value);
  *  - signatures are fixed-width (32 longs) regardless of document length;
  *  - shingle hashing is the O(n) `rolling_hashes` codegen expression — the
  *    corpus is scanned once per document, not once per (document × seed);
  *  - oversized LSH buckets (degenerate near-identical content) are capped so
  *    one hot key can't quadratically blow up a band join — the cap is a
  *    tunable and capped pairs are still caught by other bands.
  */
object Dedup {

  /** Exact dedup on normalized text: one row per duplicate group with the
    * keeper (min id) and group size. Single hash-shuffle on the digest. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normalize(col(textCol))).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))

  /** Flink-style normalization used before hashing: lower-case + collapse
    * whitespace. */
  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Incremental exact dedup: flag each row of a NEW batch whose normalized
    * digest already exists in a (much larger) HISTORY corpus — the daily
    * "dedup today's crawl against everything ingested so far" operation —
    * WITHOUT ever shuffling the history.
    *
    * Shape: (1) one tree-aggregated pass builds a bloom filter over the
    * history digests (fixed memory: ~1.2 GB per 10⁹ items at 1% fpp) that
    * broadcasts to every executor; (2) bloom-negative new rows are
    * DEFINITELY new (no false negatives) and skip the join entirely;
    * (3) bloom-positive candidates — the true duplicates plus an fpp-sized
    * trickle — are confirmed exactly by probing the history scan with the
    * broadcast candidate digest set and broadcasting the confirmed set back.
    * The result is therefore EXACT (the bloom only prunes; every positive is
    * re-checked), both joins are broadcast (no exchange on either corpus),
    * and the history is only ever scanned. `expectedItems <= 0` derives the
    * bloom size from a history count. */
  def incrementalDedup(
      newDocs: DataFrame, history: DataFrame, idCol: String, textCol: String,
      fpp: Double = 0.01, expectedItems: Long = -1L,
      maxBroadcastCandidates: Long = 4000000L): DataFrame = {
    val hist = history.select(md5(normalize(col(textCol))).as("digest"))
    // bloom sizing: caller-provided > catalog/CBO row-count estimate. There
    // is deliberately NO count() fallback: an implicit third scan of a
    // 100 TB history is exactly the cost this operator exists to avoid, so
    // an unknown history size is the caller's problem to state, loudly.
    // (Sizing only sets the false-positive rate — every positive is exactly
    // re-confirmed — so a rough estimate is fine.)
    val n = (if (expectedItems > 0) Some(expectedItems)
      else history.queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).filter(_ > 0))
      .getOrElse(throw new IllegalArgumentException(
        "incrementalDedup: history row count is unknown (no catalog/CBO " +
          "stats) — pass expectedItems=<approx history rows> (a rough " +
          "estimate is fine; it only sizes the bloom filter), or ANALYZE " +
          "the history table. Refusing the implicit full scan that a " +
          "count() fallback would cost. For histories beyond broadcast " +
          "reach, use materializeHistoryDigests + incrementalDedupBucketed."))
    val bloom = hist.stat.bloomFilter("digest", n, fpp)
    val bc = newDocs.sparkSession.sparkContext.broadcast(bloom)
    // sketch probe, one call per row — not a per-token hot path, so a Scala
    // UDF is the right tool (no Expression boilerplate for a broadcast probe).
    // Null digests (null text) are trivially not duplicates — and must not
    // reach mightContainString, which dereferences its argument.
    val mightContain = udf((d: String) => d != null && bc.value.mightContainString(d))
    val withDigest = newDocs
      .select(col(idCol).as("doc_id"), md5(normalize(col(textCol))).as("digest"))
    if (newDocs.isStreaming) {
      // streaming new-batch (continuous-ingest dedup): a static-side semi
      // join keyed by the stream is unsupported, so the stream stays on the
      // LEFT of a stream-static outer join against the distinct history
      // digests. The bloom still pays for itself — bloom-negative rows skip
      // the join entirely — but the static side is RE-EVALUATED per
      // micro-batch: for a large history this branch is the wrong tool —
      // use materializeHistoryDigests + incrementalDedupBucketed, whose
      // static side is the digest table itself (scan, no re-derivation).
      val histD = hist.distinct().withColumn("__dup", lit(true))
      val pos = withDigest.filter(mightContain(col("digest")))
        .join(histD, Seq("digest"), "left_outer")
        .select(col("doc_id"), col("digest"),
          coalesce(col("__dup"), lit(false)).as("is_duplicate"))
      val neg = withDigest.filter(!mightContain(col("digest")))
        .select(col("doc_id"), col("digest"), lit(false).as("is_duplicate"))
      pos.unionByName(neg)
    } else {
      val candidates = withDigest.filter(mightContain(col("digest")))
        .select(col("digest")).distinct()
      // The broadcast plan assumes the candidate set is small (true dups +
      // an fpp trickle). A high-duplicate-rate batch makes it batch-sized,
      // and a forced broadcast then dies where a shuffle join would degrade
      // gracefully — so count it first (one extra scan of the SMALL side;
      // the history is never the side we re-scan) and fall back.
      val nCand = candidates.count()
      if (nCand <= maxBroadcastCandidates) {
        // history side probes the BROADCAST candidate set (semi join, no
        // shuffle of the big side); confirmed is candidate-bounded → small
        val confirmed = hist.join(broadcast(candidates), Seq("digest"), "left_semi")
          .distinct()
          .withColumn("__dup", lit(true))
        withDigest.join(broadcast(confirmed), Seq("digest"), "left_outer")
          .select(col("doc_id"), col("digest"),
            coalesce(col("__dup"), lit(false)).as("is_duplicate"))
      } else {
        // graceful degradation: candidate set too big to broadcast — plain
        // shuffle joins (the history pays one exchange, but nothing OOMs)
        val confirmed = hist.join(candidates, Seq("digest"), "left_semi")
          .distinct()
          .withColumn("__dup", lit(true))
        withDigest.join(confirmed, Seq("digest"), "left_outer")
          .select(col("doc_id"), col("digest"),
            coalesce(col("__dup"), lit(false)).as("is_duplicate"))
      }
    }
  }

  /** Materialize a history corpus's DISTINCT content digests as a BUCKETED
    * catalog table (`bucketBy(digest) sortBy(digest)` — the FLIP-376
    * `DISTRIBUTED BY (digest)` shape, TableEnv.scala's bucketed-binding
    * path). One full history scan, once — after this, every daily
    * [[incrementalDedupBucketed]] run joins the digest table IN PLACE with
    * zero Exchange on the history side, and the table grows by appending
    * each day's new digests. This is the REQUIRED form for histories beyond
    * bloom-broadcast reach (a 10¹¹-item bloom is ~120 GB — no executor
    * broadcasts that; a bucketed digest table just adds buckets). */
  def materializeHistoryDigests(
      history: DataFrame, textCol: String, table: String,
      buckets: Int = 32): Unit = {
    val spark = history.sparkSession
    // quote each dotted part separately: backticking the whole string would
    // treat "mydb.digests" as ONE identifier in the current database, so
    // the real table never dropped and the orphan check looked at the
    // wrong directory
    val parts = table.split('.')
    val quoted = parts.map(p => s"`$p`").mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $quoted")
    // a managed-table location orphaned by a previous session (table gone
    // from this metastore, directory still on disk) blocks CREATE with
    // LOCATION_ALREADY_EXISTS — clear it. Managed layout: db tables live
    // under <warehouse>/<db>.db/<table>; default-database tables directly
    // under <warehouse>/<table>. Only that computed managed path is ever
    // deleted, and only while no catalog entry references it (the DROP
    // above removed ours; an EXTERNAL table's data lives at its own
    // LOCATION, not the managed path).
    val relPath = parts.map(_.toLowerCase) match {
      case Array(t) => t
      case Array(db, t) => s"$db.db/$t"
      case more => more.mkString("/")
    }
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), relPath)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc) && !spark.catalog.tableExists(table)) fs.delete(loc, true)
    history.select(md5(normalize(col(textCol))).as("digest"))
      .distinct()
      .write.bucketBy(buckets, "digest").sortBy("digest")
      .mode("overwrite").saveAsTable(quoted)
  }

  /** Incremental exact dedup of a new batch (batch OR streaming) against a
    * pre-materialized bucketed digest table from
    * [[materializeHistoryDigests]].
    *
    * Batch: a left-outer sort-merge join where the digest table's bucketed
    * scan already satisfies the join's hash-partitioning requirement — the
    * ONLY Exchange in the plan is the (small) new batch shuffling to the
    * bucket count; the history side is read in place, never shuffled, never
    * broadcast (asserted by PipelineSpec's executed-plan test).
    *
    * Streaming: the same join as a stream-static join — the static side is
    * the already-distinct digest TABLE, so micro-batches re-SCAN it (cheap,
    * pruned, no Exchange) instead of re-deriving `history.distinct()` from
    * the raw corpus each batch, which is what the bloom-path streaming
    * branch of [[incrementalDedup]] must do when handed a raw history. */
  def incrementalDedupBucketed(
      newDocs: DataFrame, digestTable: String,
      idCol: String, textCol: String): DataFrame = {
    val digests = newDocs.sparkSession.table(digestTable)
      .withColumn("__dup", lit(true))
    newDocs
      .select(col(idCol).as("doc_id"), md5(normalize(col(textCol))).as("digest"))
      .join(digests, Seq("digest"), "left_outer")
      .select(col("doc_id"), col("digest"),
        coalesce(col("__dup"), lit(false)).as("is_duplicate"))
  }

  /** MinHash signature: ARRAY<BIGINT> of `numHashes` minima over char
    * `shingleLen`-gram rolling hashes. One text scan in a native kernel
    * expression (HashKernels.minhash) — fixed-width output, codegen'd. */
  def minhashSignature(textCol: Column, numHashes: Int = 32, shingleLen: Int = 9): Column =
    graft.functions.HashExprs.minhash_sig(normalize(textCol), shingleLen, numHashes)

  /** Shared banded self-join with a skew guard, used by MinHash LSH and the
    * perceptual-hash blocking. Input must have columns (id, band, bucket)
    * plus any `carry` columns to surface on both sides of a pair.
    *
    * Buckets at or under `maxBucket` emit all intra-bucket pairs. OVERSIZED
    * buckets (degenerate corpora — e.g. byte-identical payloads, where every
    * band of every row collides) emit STAR edges instead: each member pairs
    * with the bucket's min-id representative. That is linear in bucket size,
    * cannot blow up one task quadratically, and — unlike dropping the bucket,
    * which silently returns ZERO pairs exactly when duplication is total —
    * keeps every member connected to its cluster for downstream grouping.
    *
    * Returns (id_a, id_b, carry_a*, carry_b*) with id_a < id_b, distinct. */
  private[pipeline] def bandedPairs(
      banded: DataFrame, maxBucket: Int, carry: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bucket"))
    val wOrd = w.orderBy(col("id")) // running frame: first() == min-id row
    val annotated = banded
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("rep_id", min(col("id")).over(w))
    def sides(aId: Column, bId: Column, a: String => Column, b: String => Column) =
      Seq(aId.as("id_a"), bId.as("id_b")) ++
        carry.flatMap(c => Seq(a(c).as(s"${c}_a"), b(c).as(s"${c}_b")))
    // bucket_n >= 2: a singleton bucket cannot produce a pair with
    // id_a < id_b, and at corpus scale singletons are nearly the whole
    // banded stream (sf100: ~40M rows in, ~low-millions colliding), so
    // dropping them BEFORE the self-join keeps the join probe + pair
    // distinct linear in actual collisions — output value-identical (r20)
    val small = annotated.filter(col("bucket_n") <= maxBucket && col("bucket_n") >= 2)
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(sides(col("a.id"), col("b.id"),
        c => col(s"a.$c"), c => col(s"b.$c")): _*)
    val big = annotated.filter(col("bucket_n") > maxBucket)
    val starPairs = big
      .select((col("rep_id") +: col("id") +:
          carry.map(c => first(col(c)).over(wOrd).as(s"__rep_$c")) ++:
          carry.map(col)): _*)
      .filter(col("rep_id") < col("id"))
      .select(sides(col("rep_id"), col("id"),
        c => col(s"__rep_$c"), c => col(c)): _*)
    allPairs.union(starPairs).distinct()
  }

  /** LSH candidate pairs from MinHash signatures: band the signature, bucket
    * by (band index, band hash), emit intra-bucket pairs. `maxBucket` is the
    * skew guard — see [[bandedPairs]] (oversized buckets degrade to star
    * edges against the bucket representative, never to zero pairs or a
    * quadratic task). Returns (id_a, id_b) with id_a < id_b. */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleLen: Int = 9,
      maxBucket: Int = 64): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes, shingleLen).as("sig"))
    // literal array of per-band hash(slice) expressions, NOT
    // transform(sequence(0, bands-1), b => ...): `bands` is a constant, and
    // the lambda form is an interpreted HigherOrderFunction evaluated per
    // document (expression-tree walk + per-band closure), while array() of
    // the unrolled expressions stays in whole-stage codegen — value-identical
    // since hash(slice(sig, b*rows+1, rows), b) is the same term either way
    // (r20; ~14 s of the sf100 gate was this stage)
    val banded = sigs.select(col("id"), posexplode(
      array((0 until bands).map(b =>
        hash(slice(col("sig"), b * rows + 1, rows), lit(b))): _*)).as(Seq("band", "bucket")))
    bandedPairs(banded, maxBucket, carry = Seq.empty)
  }

  /** Exact n-gram Jaccard between two text columns (verification step after
    * LSH, or standalone for bounded candidate sets).
    *
    * Sub-`n`-length texts have EMPTY gram sets; 0/0 would be NULL and a
    * `NULL >= threshold` verify silently drops the pair — so two empty gram
    * sets define jaccard = 1 exactly when the normalized texts are equal
    * (they are literal duplicates), else 0. Without this, identical short
    * docs funnel into one LSH bucket (all-sentinel signatures), survive
    * banding, and are then discarded by the NULL verify — wasted candidate
    * work that never reports the true duplicate. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    def grams(c: Column) = array_distinct(rolling_hashes(normalize(c), n, 0L))
    val ga = grams(a); val gb = grams(b)
    // |A∩B| / (|A| + |B| - |A∩B|) with the intersection computed once
    val inter = size(array_intersect(ga, gb))
    when(size(ga) === 0 && size(gb) === 0,
      when(normalize(a) === normalize(b), lit(1.0)).otherwise(lit(0.0)))
      .otherwise(inter.cast("double") / (size(ga) + size(gb) - inter))
  }

  /** Near-duplicate pairs: LSH candidates verified by exact shingle Jaccard.
    * The verify join re-reads only candidate ids — linear in candidates. */
  def nearDuplicatePairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 32, bands: Int = 8,
      shingleLen: Int = 9): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, textCol, numHashes, bands, shingleLen)
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
    cands
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .withColumn("jaccard", ngramJaccard(col("text_a"), col("text_b"), shingleLen))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes, one pass in a native kernel expression (HashKernels.simhash).
    * Fixed-width output; exact-duplicate clusters = equal simhash; near-dup =
    * small hamming distance (join on rotated bands if needed). */
  def simhash(textCol: Column): Column =
    graft.functions.HashExprs.simhash64(normalize(textCol))

  /** SemDeDup-style semantic near-duplicate pairs over an embedding column
    * (Abbas et al. 2023: cluster the embedding space, compare only within
    * clusters — no pre-existing label/blocking column needed): k-means
    * centroids (O(√N) of them, trained on a bounded deterministic sample —
    * [[Similarity.kmeansCentroids]]) block the quadratic all-pairs search
    * to within-cluster pairs, which is exactly the LSH-bucket shape, so
    * the banded skew guard applies unchanged: an oversized cluster
    * degrades to star edges against its min-id representative — linear,
    * never a quadratic task — and with the cosine verify on top that IS
    * SemDeDup's cheap variant (compare each member to one cluster
    * representative instead of all pairs), so the degradation trades
    * pair completeness for the paper's own approximation, not for
    * silence. Size `nCentroids` as O(√N) so typical clusters stay under
    * `maxCluster` and get the full pairwise treatment.
    *
    * 100 TB shape: one codegen argmax pass for assignment (zero shuffle —
    * the kernel is constant-size per row), ONE shuffle on the cluster id
    * for pair enumeration, and a candidate-bounded verify join.
    * Returns (id_a, id_b, cos) with id_a < id_b and cos >= threshold. */
  def semanticNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCentroids: Int = 16,
      maxCluster: Int = 256): DataFrame = {
    val cands = semanticCandidatePairs(df, idCol, vecCol, nCentroids, maxCluster)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vecs.toDF("id_a", "v_a"), "id_a")
      .join(vecs.toDF("id_b", "v_b"), "id_b")
      .withColumn("cos", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** The cluster-blocked candidate graph behind [[semanticNearDupPairs]],
    * exposed for connectivity-contract gating (the minhash-LSH gate
    * convention): identical vectors deterministically share an argmax
    * centroid, so exact duplicates are ALWAYS connected here, independent
    * of where k-means put the centroids. */
  def semanticCandidatePairs(
      df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, maxCluster: Int = 256): DataFrame = {
    val cents = Similarity.kmeansCentroids(df, idCol, vecCol, nCentroids)
    val assigned = Similarity.ivfAssign(df, idCol, vecCol, cents)
      .select(col("vec_id").as("id"), lit(0).as("band"),
        col("centroid_id").as("bucket"))
    bandedPairs(assigned, maxCluster, carry = Seq.empty)
  }

  /** Per-position k-gram enumeration shared by the span operators:
    * (doc_id, pos, gram) with 1-based `pos`. Kernel path: O(n) rolling-hash
    * gram identity over UTF-8 BYTES; substring path: literal k-char grams
    * over CHARACTERS (the oracle-parity, unicode-safe identity). */
  /** The 128-bit kernel gram identity: two INDEPENDENT polynomial families
    * (different multipliers — the seed argument only post-mixes one family,
    * so seeded variants share every collision). Joint collisions are
    * ~2^-128-rare, safe even for the DESTRUCTIVE cut operator at corpus
    * scale where a single 64-bit family would collide for certain
    * (birthday at ~2^32 distinct grams). Emitted as BINARY(16) per window
    * so the shuffle key stays 16 bytes for any gram size k; the per-doc
    * dedup runs IN the kernel (r19) — `array_distinct` over ARRAY<BINARY>
    * is Spark's pairwise-quadratic path (BinaryType fails
    * typeWithProperEquals), measured dominating the kernel cut gate. */
  private def gramPair(textCol: String, k: Int, distinct: Boolean = false) =
    graft.functions.RollingHashes.rolling_hashes128(col(textCol), k, distinct)

  /** One row per DISTINCT (doc, gram) with the dedup done map-side (narrow,
    * per-doc array) — so downstream per-gram aggregates count documents with
    * a plain count() over ONE exchange, no countDistinct Expand, and
    * within-doc repeats never reach the shuffle. */
  private def docGramsDistinct(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, useKernel: Boolean, pair: Boolean = false): DataFrame =
    if (useKernel && pair)
      df.select(col(idCol).as("doc_id"),
        explode(gramPair(textCol, k, distinct = true)).as("gram"))
    else if (useKernel)
      df.select(col(idCol).as("doc_id"),
        explode(array_distinct(rolling_hashes(col(textCol), k, 0L))).as("gram"))
    else
      // char_ngrams kernel == the array_distinct(transform(sequence…,
      // substring…)) lambda (pinned in PipelineSpec) — the lambda is a
      // HigherOrderFunction, interpreted per POSITION, and dominated the
      // substring-identity gates (r19; numbers in OPTIMIZATION_r19.md)
      df.filter(length(col(textCol)) >= k)
        .select(col(idCol).as("doc_id"),
          explode(graft.functions.TextExprs.char_ngrams(col(textCol), k,
            distinct = true)).as("gram"))

  /** Shuffle-weight stream for the size-aware K-pass census — one row per
    * DISTINCT (doc, gram), mirroring what the r19 span plans actually
    * shuffle (the per-doc distinct gram stream; positions never leave their
    * document — see [[graft.functions.SpanKernels]]). `w` ≈ the row's
    * shuffle bytes: gram payload + key overhead. The kernel identities
    * carry fixed-width grams so weight reduces to row count; the substring
    * identity pays the gram's own bytes. */
  private def gramShuffleWeights(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, useKernel: Boolean, pair: Boolean = false): DataFrame = {
    val w = if (useKernel) lit(if (pair) 32L else 24L)
            else octet_length(col("gram")).cast("long") + lit(16L)
    docGramsDistinct(df, idCol, textCol, k, useKernel, pair).select(col("gram"), w.as("w"))
  }

  /** Greedy LPT assignment of gram-hash buckets to `passes` slices:
    * heaviest bucket first, always into the currently-lightest slice —
    * within 4/3 of the optimal makespan (Graham 1969), which for scratch
    * budgeting means no pass carries much more than its fair share even
    * when the census is skewed. Deterministic (stable index tie-break) so
    * the same census always yields the same slicing. */
  private[graft] def assignBuckets(weights: Seq[Long], passes: Int): Array[Int] = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val assign = new Array[Int](weights.length)
    val load = new Array[Long](passes)
    weights.zipWithIndex.sortBy { case (w, i) => (-w, i) }.foreach { case (w, i) =>
      var s = 0
      var j = 1
      while (j < passes) { if (load(j) < load(s)) s = j; j += 1 }
      assign(i) = s
      load(s) += w
    }
    assign
  }

  /** Gram-sliced K-pass execution for the spans family (r17, verdict #1).
    *
    * The spans operators' one wide exchange carries EVERY gram occurrence
    * of the corpus — linear in corpus bytes by design, but the shuffle's
    * scratch footprint is that whole stream at once, which at the fourth
    * decade exceeds a single node's local disk (the r16 sweep's named
    * skips; on a real cluster the same pressure is per-node scratch).
    * `passes > 1` trades wall-clock for scratch: pass i keeps only grams
    * of its hash slice — a NARROW filter applied before the exchange, so
    * each pass recomputes the gram stream (cheap, map-side) but shuffles
    * only ~1/K of it. The downstream per-doc assembly then runs once over
    * the union of the passes' surviving positions.
    *
    * Slicing is `pmod(xxhash64(gram), K) = i` by default; with a `census`
    * (r18, the size-aware knob) the gram space is first split into
    * K×16 hash buckets, the census measures each bucket's shuffle weight
    * in one map-side-combined aggregate (B rows to the driver, nothing
    * else), and buckets are LPT-packed into K slices — so a skewed gram
    * distribution can't unbalance per-pass scratch the way trusting hash
    * uniformity over K coarse slices can. The census costs one extra
    * gram-stream recomputation (~1/K of the K-pass total).
    *
    * Pass materialization (r18, closing the r17 scratch-lifecycle seam):
    *  - default (`scratchDir` = None): each pass persists at
    *    `StorageLevel.DISK_ONLY` and is materialized eagerly, so the
    *    pass's shuffle files release before the next pass claims scratch.
    *    DataFrame persistence stores columnar batches in the EXECUTORS'
    *    own local dirs — per-node-correct on a real cluster, where the
    *    pre-r18 driver-local temp directory would have made the union
    *    read partial — and the blocks die with the application (nothing
    *    leaks to the filesystem, the r17 seam). Within a long-lived
    *    session, release them after consuming the result via
    *    [[releaseSpansScratch]]: Dataset persistence is CacheManager-
    *    registered (strong reference), so unlike RDD persistence the
    *    ContextCleaner never drops it on its own.
    *
    *    SIZE the persist scratch from measurement, not hope: position
    *    rows do not delta-compress in columnar long batches, and even
    *    with `spark.rdd.compress` (one lz4 pass) the r18 fourth-decade
    *    sweep measured the K=4 kernel-cut persist scratch OVERFLOWING
    *    60 GB of free disk where the same pass results as parquet
    *    (delta + snappy) ran ~2 GB — a >10x encoding gap parquet wins.
    *    Persist stays the DEFAULT because it is the cluster-correct
    *    posture (per-executor blocks, no shared-FS requirement), but a
    *    single-node decade run should pass `scratchDir` exactly the way
    *    `tools/SweepScale` does. With `sizeAware=true` the census is
    *    already in hand, so a run whose estimated gram-shuffle bytes
    *    exceed `spark.graft.kpass.persistScratchWarnBytes` (default
    *    64 GiB; 0 disables) warns by name before the first pass runs.
    *  - explicit `scratchDir`: pass results append there as parquet; the
    *    caller owns the path's lifecycle and, on a multi-node cluster,
    *    must point it at a SHARED filesystem (every executor task-commits
    *    to it and the union read needs all of it).
    *
    * Correctness is structural either way: gram slices are disjoint and
    * exhaustive, and every per-gram decision (cross-doc count, min-id
    * owner) depends only on rows of the SAME gram, so the union of
    * per-slice survivors equals the single-pass result exactly
    * (PipelineSpec pins K-pass == single-pass for both operators, both
    * gram identities, and both slicing modes). */
  private def slicedPositions(
      spark: org.apache.spark.sql.SparkSession,
      passes: Int, scratchDir: Option[String],
      slice: Option[Column] => DataFrame,
      census: Option[() => DataFrame] = None): DataFrame =
    if (passes <= 1) slice(None)
    else {
      val filters: Seq[Column] = census match {
        case Some(cs) =>
          val b = passes * 16
          val bucketOf = pmod(xxhash64(col("gram")), lit(b))
          val weights = Array.fill(b)(0L)
          cs().groupBy(bucketOf.cast("int").as("bucket"))
            .agg(sum(col("w")).as("w")).collect()
            .foreach(r => weights(r.getInt(0)) = r.getLong(1))
          // the census is in hand: warn BEFORE the first pass when the
          // persist-mode scratch estimate blows the configured budget
          // (r19, verdict #3 — the measured r18 gap is persist >10x
          // parquet for position batches; overflowing executor scratch
          // mid-gate is far costlier than this one comparison)
          if (scratchDir.isEmpty) {
            val budget = spark.conf.getOption("spark.graft.kpass.persistScratchWarnBytes")
              .map(_.toLong).getOrElse(64L << 30)
            val total = weights.sum
            if (budget > 0 && total > budget) {
              val msg = f"K-pass persist scratch estimate ${total / 1e9}%.1f GB " +
                f"(gram-shuffle census) exceeds budget ${budget / 1e9}%.1f GB " +
                "(spark.graft.kpass.persistScratchWarnBytes): DISK_ONLY persistence " +
                "of position batches measured >10x the size of parquet scratch " +
                "(r18: 60 GB overflow vs ~2 GB parquet at the fourth decade) — " +
                "single-node runs at this scale should pass scratchDir"
              lastScratchWarning = Some(msg)
              println(s"[graft-kpass] WARN $msg")
            } else lastScratchWarning = None
          }
          val assign = assignBuckets(weights.toSeq, passes)
          (0 until passes).map { p =>
            val buckets = assign.zipWithIndex.collect { case (s, i) if s == p => i.toLong }
            if (buckets.isEmpty) lit(false) else bucketOf.isin(buckets: _*)
          }
        case None =>
          (0 until passes).map(i => pmod(xxhash64(col("gram")), lit(passes)) === lit(i))
      }
      scratchDir match {
        case Some(dir) =>
          filters.zipWithIndex.foreach { case (f, i) =>
            slice(Some(f)).write.mode(if (i == 0) "overwrite" else "append").parquet(dir)
            System.gc() // release pass i's now-unreachable shuffle files
          }
          spark.read.parquet(dir)
        case None =>
          filters.map { f =>
            val pass = slice(Some(f))
              .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
            kpassSlices.synchronized {
              pruneStoppedSessions()
              kpassSlices.getOrElseUpdate(spark, scala.collection.mutable.Buffer.empty) += pass
            }
            pass.count() // materialize NOW: this pass's job runs alone
            System.gc() // release this pass's now-unreachable shuffle files
            pass
          }.reduce(_ union _)
      }
    }

  /** Persisted K-pass slices per session, for [[releaseSpansScratch]].
    * Dataset.persist registers the plan in the session's CacheManager,
    * which holds a STRONG reference — unlike RDD persistence, cached
    * DataFrames are never dropped by the ContextCleaner, so without an
    * explicit release the slices' disk blocks live until session end
    * (measured r18: 40 GB of block-manager scratch survived its gate).
    * Entries whose session's SparkContext has STOPPED are pruned on every
    * map access (r19, verdict #2):
    * a stopped context's disk blocks are already gone, so the entry pins
    * only dead session objects and stale plans, and a gateway-style driver
    * that churns sessions through K-pass runs without calling the release
    * handle must not accumulate them for JVM lifetime. */
  private val kpassSlices =
    scala.collection.mutable.Map.empty[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Buffer[DataFrame]]

  /** Stopped-session predicate behind the [[kpassSlices]] eviction.
    * Overridable ONLY by tests: the suite JVM shares ONE SparkContext
    * across every suite, so a spec cannot stop a real context to walk the
    * eviction without killing its co-residents — production always runs
    * the default (the real `isStopped`, with a defensive true on a context
    * that throws). */
  @volatile private[graft] var kpassSessionStopped:
      org.apache.spark.sql.SparkSession => Boolean =
    s => try s.sparkContext.isStopped catch { case _: Throwable => true }

  /** Sessions currently holding K-pass scratch (test observability). */
  private[graft] def kpassScratchSessions: Seq[org.apache.spark.sql.SparkSession] =
    kpassSlices.synchronized { kpassSlices.keys.toSeq }

  /** Drop map entries of stopped sessions. Call ONLY while synchronized on
    * [[kpassSlices]]. No unpersist: stopping the context already destroyed
    * the block manager (unpersist on a stopped session would throw). */
  private def pruneStoppedSessions(): Unit =
    kpassSlices.keysIterator.filter(kpassSessionStopped).toList
      .foreach(kpassSlices -= _)

  /** Last census-driven persist-scratch warning (None when the estimate is
    * under budget) — test observability for the sizing guard above. */
  @volatile private[graft] var lastScratchWarning: Option[String] = None

  /** Release the block-manager scratch of every default-mode K-pass run
    * of `spark` whose result has been consumed — the cleanup handle for
    * [[duplicatedSpanCoverage]]/[[cutDuplicatedSpans]] with `passes > 1`
    * and no explicit `scratchDir`. Call it after the returned DataFrame's
    * terminal action (calling earlier just forces the next action to
    * recompute the slices). Returns the number of slices released. A
    * long-lived session that K-passes many corpora and never calls this
    * keeps each run's scratch on executor disk until the session ends —
    * bounded by app lifetime (nothing leaks to the filesystem), but at
    * ~10s of GB per fourth-decade run the release is worth one line. */
  def releaseSpansScratch(spark: org.apache.spark.sql.SparkSession): Int =
    kpassSlices.synchronized {
      val released = kpassSlices.remove(spark).map { slices =>
        if (!kpassSessionStopped(spark))
          slices.foreach(_.unpersist(blocking = true))
        slices.size
      }.getOrElse(0)
      pruneStoppedSessions()
      released
    }

  /** Total text length in the same unit the gram walk uses — BYTES for the
    * kernel path, CHARACTERS for the substring path. Mixing units would let
    * coverage/removal exceed the reported length on non-ASCII text. */
  private def lenInGramUnits(textCol: String, useKernel: Boolean): Column =
    if (useKernel) octet_length(col(textCol)) else length(col(textCol))

  /** Exact duplicated-substring coverage (the signal behind suffix-array
    * substring dedup à la "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, done shuffle-native instead of with a global
    * suffix array): for every position, the k-char window starting there is
    * "duplicated" when the identical window occurs in ≥ `minDocs` distinct
    * documents; per document we report how many characters lie under at
    * least one duplicated window.
    *
    * Shape (all linear, no all-pairs; r19): ONE shuffle of the per-doc
    * DISTINCT gram stream finds cross-document grams via a window over the
    * gram key; each doc's duplicated-gram set returns over one narrow
    * doc_id shuffle; a single doc-local kernel pass (SpanKernels)
    * re-derives the positions with the same O(n) rolling-hash walk and
    * folds them — consecutive positions p_{i-1}, p_i add
    * min(k, p_i − p_{i-1}) chars (k for the first), which equals the exact
    * union length of the overlapping [p, p+k) intervals without building
    * islands. Positions never cross the cluster (the pre-r19 plan shuffled
    * every gram occurrence); per-doc state is bounded by document length.
    *
    * `useKernel=false` switches gram identity from the 64-bit rolling hash
    * to the literal substring — the oracle-parity path (a hash collision
    * could in principle merge two distinct grams); PipelineSpec pins both
    * paths equal on the corpus.
    *
    * `passes > 1` bounds the gram shuffle's scratch to ~1/K of the corpus
    * per job at the cost of K gram-stream recomputations — identical
    * results by construction (see [[slicedPositions]]); `sizeAware` adds
    * a one-pass byte census so skewed gram distributions can't unbalance
    * per-pass scratch.
    */
  def duplicatedSpanCoverage(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minDocs: Int = 2, useKernel: Boolean = true,
      passes: Int = 1, scratchDir: Option[String] = None,
      sizeAware: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r19 shape (guide §8 — decide with small rows, move big rows once):
    // the per-doc DISTINCT gram stream shuffles ONCE; a window over the
    // gram key attaches the cross-doc count in place (no second exchange,
    // no position stream at all); each doc's duplicated-gram SET then comes
    // home via one narrow doc_id shuffle and a single doc-local kernel pass
    // re-derives the positions and folds them into the coverage stats
    // (SpanKernels — the islands window, per-position semi join and lag()
    // re-assembly of the pre-r19 plan all collapse into it).
    // `passes > 1`: scratch-bounded K-pass over disjoint gram slices (the
    // per-gram doc count only needs rows of the same gram — see
    // [[slicedPositions]]); the default single pass is the plain plan.
    def dupGramSlice(sliceFilter: Option[Column]): DataFrame = {
      val grams0 = docGramsDistinct(df, idCol, textCol, k, useKernel)
      val grams = sliceFilter.map(grams0.filter).getOrElse(grams0)
      val w = Window.partitionBy("gram")
      grams.withColumn("n_docs", count(lit(1)).over(w))
        .filter(col("n_docs") >= minDocs)
        .select(col("doc_id"), col("gram"))
    }
    val dupDocGrams = slicedPositions(df.sparkSession, passes, scratchDir, dupGramSlice,
      census = if (sizeAware) Some(() => gramShuffleWeights(df, idCol, textCol, k, useKernel)) else None)
    val perDoc = dupDocGrams.groupBy("doc_id")
      .agg(collect_list(col("gram")).as("__gs"))
    val s = graft.functions.SpanKernels.span_coverage(col("__text"), col("__gs"), k)
    df.select(col(idCol).as("doc_id"),
        lenInGramUnits(textCol, useKernel).cast("long").as("n_chars"),
        col(textCol).as("__text"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__s", s)
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("__s").getField("dup_chars"), lit(0L)).cast("long").as("dup_chars"),
        round(coalesce(col("__s").getField("dup_chars"), lit(0L)).cast("double") /
          greatest(col("n_chars"), lit(1L)), 6).as("dup_frac"),
        coalesce(col("__s").getField("n_dup_grams"), lit(0L)).cast("long").as("n_dup_grams"))
  }

  /** The REMOVE step of exact substring dedup (Lee et al. 2022): cut, from
    * every document, each duplicated k-char window whose canonical owner
    * (the MINIMUM doc id among documents containing that window) is another
    * document. The owner keeps its occurrences, so exactly one copy of each
    * duplicated region survives the corpus; overlapping cut windows merge
    * into maximal spans before slicing. Returns
    * (doc_id, n_chars, removed_chars, clean_text).
    *
    * Shape: the same single gram shuffle as [[duplicatedSpanCoverage]] but
    * the per-gram window also carries min(doc_id) as the owner; each
    * non-owner doc's cut-gram set returns over one narrow doc_id shuffle
    * and a doc-local kernel pass (SpanKernels.cut_spans) re-derives the
    * positions, merges overlapping windows into maximal spans and rebuilds
    * the text in one walk — no position shuffle, no driver state, per-doc
    * memory bounded by document size.
    *
    * Positions are CHARACTER-based (substring-path gram identity) so the
    * slicing is unicode-safe; pass `useKernel=true` ONLY for corpora whose
    * text is single-byte (ASCII/latin-1): the rolling-hash kernel reports
    * BYTE offsets, while the rebuild slices with substring's CHARACTER
    * offsets — on any document containing a multi-byte character every
    * position after it is shifted, so cuts land on the wrong characters
    * document-wide (not merely splitting one character at a window
    * boundary).
    *
    * Kernel mode uses the two-family 128-bit gram identity (r15): a single
    * 64-bit rolling hash WILL collide at corpus scale (birthday at ~2^32
    * distinct grams), and a collision here cuts a non-duplicated region —
    * destructive, unlike the coverage statistic above. The pair costs one
    * extra O(n) kernel pass and 8 shuffle bytes/row, and is still ~5x
    * cheaper end-to-end than the 20-char substring identity (measured at
    * sf10: 22 s vs 105 s bounded).
    *
    * `passes > 1` bounds the gram shuffle's scratch to ~1/K of the corpus
    * per job at the cost of K gram-stream recomputations — identical
    * results by construction (see [[slicedPositions]]); `sizeAware` adds
    * a one-pass byte census so skewed gram distributions can't unbalance
    * per-pass scratch. */
  def cutDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minDocs: Int = 2, useKernel: Boolean = false,
      passes: Int = 1, scratchDir: Option[String] = None,
      sizeAware: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r19 shape (guide §8 — decide with small rows, move big rows once):
    // per-gram doc count + min-id owner attach to the map-side-distinct
    // doc-gram stream via ONE window over its single exchange (the pre-r19
    // plan shuffled every gram OCCURRENCE as well, then re-assembled the
    // verdicts through two per-doc windows, an islands aggregate and a
    // rebuild join — and its heads/tails union evaluated that whole
    // pipeline twice). Each non-owner doc's cut-gram SET comes home via
    // one narrow doc_id shuffle; a single doc-local kernel pass
    // (SpanKernels.cut_spans) re-derives the positions, merges islands and
    // rebuilds the text — positions never cross the cluster. `passes > 1`
    // slices the gram exchange by gram hash into K scratch-bounded jobs
    // (the min-id owner of a gram only needs rows of the SAME gram — see
    // [[slicedPositions]]).
    def rmGramSlice(sliceFilter: Option[Column]): DataFrame = {
      val grams0 = docGramsDistinct(df, idCol, textCol, k, useKernel, pair = useKernel)
      val grams = sliceFilter.map(grams0.filter).getOrElse(grams0)
      val w = Window.partitionBy("gram")
      grams.withColumn("n_docs", count(lit(1)).over(w))
        .withColumn("owner", min(col("doc_id")).over(w))
        .filter(col("n_docs") >= minDocs && col("doc_id") =!= col("owner"))
        .select(col("doc_id"), col("gram"))
    }
    val rmGrams = slicedPositions(df.sparkSession, passes, scratchDir, rmGramSlice,
      census = if (sizeAware)
        Some(() => gramShuffleWeights(df, idCol, textCol, k, useKernel, pair = useKernel))
      else None)
    val perDoc = rmGrams.groupBy("doc_id")
      .agg(collect_list(col("gram")).as("__gs"))
    val s = graft.functions.SpanKernels.cut_spans(col("__orig"), col("__gs"), k)
    df.select(col(idCol).as("doc_id"),
        lenInGramUnits(textCol, useKernel).cast("long").as("n_chars"),
        col(textCol).as("__orig"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__s", s)
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("__s").getField("removed_chars"), lit(0L)).cast("long").as("removed_chars"),
        coalesce(col("__s").getField("clean_text"), col("__orig")).as("clean_text"))
  }
}
