package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.pipeline.{CorpusFilters, Dedup, IvfIndex, Multimodal, Sampling, Similarity, TextAnalysis}

/** Training-data pipeline operators as driver-checkable queries: dedup
  * (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding near-dup),
  * similarity search (brute-force + IVF), text analysis, multimodal plumbing.
  *
  * Hash-engine-dependent outputs (MinHash/SimHash/IVF/LSH) reach the driver
  * only through oracle-checkable contracts — theorem booleans (exact-copy
  * connectivity, simhash determinism), measured-floor aggregates (near-copy
  * recall, ANN recall@10) — or, for the raw top-k gates, rows-only checks
  * backed by PipelineSpec assertions against brute-force ground truth.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Scratch-bounded K-pass knob for the spans gates (r17): the gram
    * shuffle is linear in corpus bytes by design, but at the fourth decade
    * its single-exchange scratch exceeds this sandbox's local disk — the
    * sweep sets SPARK_GRAFT_SPANS_PASSES to slice the exchange into K
    * disjoint gram-hash passes (identical results, pinned in
    * PipelineSpec). Unset = 1 = the plain single-pass plan, which is what
    * the driver's verify/bench runs and the oracle mirrors. */
  private def spansPasses: Int =
    sys.env.getOrElse("SPARK_GRAFT_SPANS_PASSES", "1").toInt

  /** SPARK_GRAFT_SPANS_SIZED=1 (r18): byte-budgeted K-pass slicing — an
    * extra one-pass gram-byte census LPT-packs hash buckets into passes,
    * so a skewed gram distribution can't unbalance per-pass scratch.
    * Identical results either way (pinned in PipelineSpec); only
    * meaningful when SPARK_GRAFT_SPANS_PASSES > 1. */
  private def spansSized: Boolean =
    sys.env.get("SPARK_GRAFT_SPANS_SIZED").exists(_ == "1")

  /** SPARK_GRAFT_SPANS_SCRATCH=<dir> (r18): route the K-pass position
    * union through explicit PARQUET scratch under <dir>/<gate> instead of
    * the default block-manager persistence. Parquet's delta+snappy
    * encodes the position stream several times smaller than lz4 over
    * columnar long batches (measured r18: the kernel cut gate's K=4
    * persist scratch overflowed a 60 GB disk that its parquet scratch
    * fits with room), so this is the right mode for fourth-decade runs
    * on one node; the CALLER owns the dir's lifecycle (the sweep purges
    * it between gates). */
  private def spansScratch(gate: String): Option[String] =
    sys.env.get("SPARK_GRAFT_SPANS_SCRATCH").map(d => s"$d/$gate")

  /** Oracle contract for a hash/seed-dependent ANN top-k result (r12,
    * closing the last two rows-only gates with the q_sim_recall recipe):
    * the engine-chosen rows reach the driver ONLY through per-query
    * booleans the oracle pins constant-TRUE —
    *   - within_k: at most k results per query (duplicate rows would trip it);
    *   - ranks_ok: ranks are exactly 1..n, no gap or duplicate;
    *   - sims_sorted: scores non-increasing in rank order;
    *   - sims_exact: every reported score equals the cosine recomputed on
    *     an INDEPENDENT arithmetic path — the interpreted
    *     aggregate/zip_with lambda fold (the same formulation the DuckDB
    *     oracles use) against the codegen vec_dot kernel the operator ran,
    *     so silent kernel drift breaks the gate;
    *   - recall_floor_ok: recall@k vs exact brute force ≥ 0.05, under the
    *     measured floor at every sweep SF (PLANS.md §14 "Round 7": ivf
    *     min 0.10, lsh(nBits=4) min 0.10).
    * A query with NO results keeps its row (left join from the query set)
    * with recall_floor_ok=false — an empty probe fails loudly, the
    * q_sim_index_parity convention. */
  private def annTopKContract(e: DataFrame, ann: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queryIds = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"))
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = k)
      .select(col("query_id"), col("vec_id"), lit(true).as("__in_brute"))
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
    val qvecs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("__q"))
    def lamDot(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0d, (acc, z) -> acc + z)")
    val wOrd = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
    val flagged = ann
      // left joins BOTH ways: a phantom vec_id OR query_id in the operator
      // output must flag (null vector → sims_exact false / an extra
      // query_id row → oracle row-count mismatch), never silently drop
      .join(vecs, Seq("vec_id"), "left_outer")
      .join(broadcast(qvecs), Seq("query_id"), "left_outer")
      .join(brute, Seq("query_id", "vec_id"), "left_outer")
      .withColumn("__lam_sim",
        round(lamDot("__v", "__q") /
          (sqrt(lamDot("__v", "__v")) * sqrt(lamDot("__q", "__q"))), 6))
      .withColumn("__contig", col("rnk") === row_number().over(wOrd))
      .withColumn("__sorted",
        coalesce(col("sim") <= lag(col("sim"), 1).over(wOrd), lit(true)))
      .withColumn("__exact", coalesce(col("sim") === col("__lam_sim"), lit(false)))
    val perQ = flagged.groupBy(col("query_id")).agg(
      (count(lit(1)) <= k).as("within_k"),
      expr("bool_and(__contig)").as("ranks_ok"),
      expr("bool_and(__sorted)").as("sims_sorted"),
      expr("bool_and(__exact)").as("sims_exact"),
      ((sum(when(col("__in_brute"), 1).otherwise(0)) / k.toDouble) >= 0.05)
        .as("recall_floor_ok"))
    // FULL outer: a left join would silently discard operator rows whose
    // query_id is outside the query set — the row-count mismatch is the
    // documented flag for that regression (r12 review finding)
    queryIds.join(perQ, Seq("query_id"), "full_outer")
      .select(col("query_id"),
        coalesce(col("within_k"), lit(true)).as("within_k"),
        coalesce(col("ranks_ok"), lit(true)).as("ranks_ok"),
        coalesce(col("sims_sorted"), lit(true)).as("sims_sorted"),
        coalesce(col("sims_exact"), lit(true)).as("sims_exact"),
        coalesce(col("recall_floor_ok"), lit(false)).as("recall_floor_ok"))
      .orderBy(col("query_id"))
  }

  /** One digest-table materialize per (JVM, sf dir): the bucketed history
    * table is a one-time production artifact, not part of the recurring
    * query being gated/benched. Per-JVM (not on-disk) memoization so a
    * fresh process always rebuilds from the CURRENT testdata. */
  private val digestFixture = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One IVF index build+save per (session, sf dir) — the
    * [[digestFixture]] precedent: production builds the index ONCE and
    * probes it many times, so the parity gate should time the probe (the
    * recurring cost), not re-train/re-assign/re-write per execution. The
    * directory is unique per build (no fixed path two concurrent
    * processes could race on) and reaped by a shutdown hook. */
  private val ivfIndexFixture = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.mutable.Map[String, (String, java.lang.ref.SoftReference[(DataFrame, DataFrame)])]]()

  private def indexFixture(s: SparkSession, dir: String): (DataFrame, DataFrame, String) =
    // weak-keyed on the session OBJECT: identity hashing by address could
    // serve a stopped session's cached DataFrames to a colliding new
    // session, and a strong key would pin dead sessions' plans for the JVM
    // lifetime. The value must NOT hold a strong path back to the key, or
    // the weak key never reclaims: the idxDir String is held strongly (no
    // session reference) while the DataFrames — whose plans reference the
    // session — sit behind a SoftReference. On a cleared reference the
    // index is rebuilt deterministically into the SAME saved directory
    // (build is seeded), so the parity gate keeps comparing a fresh
    // in-memory build against the original on-disk copy. The lock
    // serializes concurrent first builds (same contract as computeIfAbsent).
    ivfIndexFixture.synchronized {
      val perSession = {
        val m = ivfIndexFixture.get(s)
        if (m != null) m
        else {
          val m2 = scala.collection.mutable.Map
            .empty[String, (String, java.lang.ref.SoftReference[(DataFrame, DataFrame)])]
          ivfIndexFixture.put(s, m2)
          m2
        }
      }
      def build(): (DataFrame, DataFrame) = {
        val e = t(s, dir, "embeddings")
        val (centroids, assigned0) = IvfIndex.build(e, "vec_id", "embedding")
        (centroids, assigned0.cache())
      }
      perSession.get(dir) match {
        case Some((idxDir, ref)) =>
          val cached = ref.get()
          if (cached != null) (cached._1, cached._2, idxDir)
          else {
            val (centroids, assigned) = build()
            perSession.update(dir,
              (idxDir, new java.lang.ref.SoftReference((centroids, assigned))))
            (centroids, assigned, idxDir)
          }
        case None =>
          val (centroids, assigned) = build()
          val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_index_").toString
          IvfIndex.save(idxDir, centroids, assigned)
          sys.addShutdownHook(
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir)))
          perSession.update(dir,
            (idxDir, new java.lang.ref.SoftReference((centroids, assigned))))
          (centroids, assigned, idxDir)
      }
    }

  /** The blocked candidate set shared by the exact-Jaccard dedup queries:
    * bounded ids, per-doc distinct char trigrams via substring enumeration
    * (DuckDB-oracle-parity tokenization — the kernel path is exercised by
    * the LSH query). */
  private def blockedTrigramDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"), col("source"),
        // char_ngrams kernel == array_distinct(transform(sequence…,
        // substring…)) (pinned in PipelineSpec); the lambda was interpreted
        // per position and dominated all three blocked-Jaccard gates
        graft.functions.TextExprs.char_ngrams(col("text"), 3,
          distinct = true).as("grams"))

  /** Same-source blocked self-join with exact trigram Jaccard — the pair
    * stream feeding grouping and the survivors keep-list. */
  private def blockedJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val d = blockedTrigramDocs(s, dir)
    d.as("a").join(d.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
          (size(col("a.grams")) + size(col("b.grams"))
            - size(array_intersect(col("a.grams"), col("b.grams"))))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  val queries: Map[String, Q] = Map(
    // exact dedup groups over normalized text
    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("digest"))
    },

    // incremental dedup of a "new batch" (doc_id%5==0) against a history
    // corpus (doc_id%3<>0): bloom prefilter prunes definite-news, exact
    // broadcast confirmation keeps the result oracle-exact — rows with ids
    // in both slices carry identical text, so ~2/3 of the batch is flagged
    "q_dedup_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", expectedItems = 1L << 16)
        .orderBy(col("doc_id"))
    },

    // the same operation in its beyond-bloom-reach form: history digests
    // pre-materialized ONCE as a bucketed catalog table, daily batches
    // left-outer join it in place — zero Exchange on the history side
    // (plan asserted in PipelineSpec; this gate pins the VALUES). The
    // materialize is a FIXTURE (one-time production cost), memoized per
    // JVM+dir so repeated executions — bench's best-of-2 in particular —
    // time the recurring join, not the setup.
    "q_dedup_incremental_bucketed" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // fixture table name carries the source dir (hash-suffixed) so two
      // dirs in one JVM can't serve each other's history; the memo makes
      // the CURRENT code version materialize once per JVM (overwriting a
      // stale warehouse table from an older build), and the catalog
      // re-check covers a fresh session in the same JVM whose warehouse
      // lost the table
      val tbl = f"graft_digests_hist_${dir.hashCode & 0x7fffffff}%08x"
      digestFixture.compute(tbl, (_, done) => {
        if (done == null || !s.catalog.tableExists(tbl))
          Dedup.materializeHistoryDigests(
            docs.filter(col("doc_id") % 2 === 0), "text", tbl)
        tbl
      })
      Dedup.incrementalDedupBucketed(
          docs.filter(col("doc_id") % 7 === 0), tbl,
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // exact 3-gram Jaccard over a blocked candidate set (same source,
    // bounded ids) — char-trigram sets via substring enumeration on both
    // engines (the rolling-hash fast path is exercised by the LSH query)
    "q_dedup_ngram_jaccard" -> { (s, dir) =>
      blockedJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // MinHash + LSH end-to-end with an ORACLE-CHECKABLE contract (r11,
    // the q_sim_recall convention): the full-corpus signature→band→bucket→
    // pair→cluster pipeline still runs at bench scale, but the hash-seeded
    // output enters the result only through booleans that are either
    // theorems or measured-floor aggregates:
    //  * corpus = all documents ∪ planted EXACT copies (+1_000_000) and
    //    planted NEAR copies (+2_000_000, text ++ " qq") of every
    //    doc_id < 50 with length(text) >= 100;
    //  * an exact copy has an IDENTICAL minhash signature, so it shares
    //    every (band,bucket) with its original — a direct candidate pair
    //    when the bucket is small, star edges through the bucket's min-id
    //    representative when oversized — either way CONNECTED in the
    //    candidate graph regardless of hash seeds. `exact_connected` is
    //    therefore constant TRUE on a correct pipeline, and any regression
    //    in signature/banding/pairing/clustering flips it;
    //  * near-copy recall IS seed-dependent per pair (one mutated shingle
    //    window), so it enters only as one aggregate floor boolean —
    //    measured 1.00 at sf0.001/0.01/0.1 (PLANS.md "Round-11: oracle
    //    contracts for the hash-dependent gates"), gated at ≥ 0.8.
    "q_dedup_minhash_lsh" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") < 50 && length(col("text")) >= 100)
      val corpus = docs
        .union(base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .union(base.select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" qq")).as("text")))
      val clusters = CorpusFilters.duplicateGroups(
        Dedup.lshCandidatePairs(corpus, "doc_id", "text"))
      def clusterOf(off: Long, as: String) =
        base.select(col("doc_id").as("orig_id"),
            (col("doc_id") + off).as("doc_id"))
          .join(clusters, Seq("doc_id"), "left_outer")
          .select(col("orig_id"), col("cluster_id").as(as))
      val per = clusterOf(0L, "c_orig")
        .join(clusterOf(1000000L, "c_exact"), "orig_id")
        .join(clusterOf(2000000L, "c_near"), "orig_id")
        .select(col("orig_id"),
          (col("c_orig").isNotNull && col("c_orig") === col("c_exact"))
            .as("exact_connected"),
          (col("c_orig").isNotNull && col("c_orig") === col("c_near"))
            .as("near_connected"))
      // recall floor via an unpartitioned window (r19, guide §2.4): the
      // crossJoin'd aggregate evaluated `per` — and its three joins —
      // TWICE; `per` is ≤50 rows by construction (doc_id < 50) at every
      // corpus scale, so the single-partition window is bounded
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      per.select(col("orig_id").as("doc_id"), col("exact_connected"),
          (avg(col("near_connected").cast("double")).over(wAll) >= 0.8)
            .as("near_recall_ok"))
        .orderBy(col("doc_id"))
    },

    // SimHash with an ORACLE-CHECKABLE contract (r11): simhash is a pure
    // function of normalized text, so (a) every exact-duplicate text group
    // carries exactly ONE distinct simhash and (b) grouping by simhash can
    // MERGE text groups (hamming-0 collisions) but never SPLIT one —
    // distinct simhash count <= distinct digest count. Both are theorems
    // on a correct kernel; the oracle recomputes the digest groups and
    // pins the booleans TRUE. The simhash kernel + both groupings still
    // execute over the full corpus.
    "q_dedup_simhash" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        md5(Dedup.normalize(col("text"))).as("digest"),
        Dedup.simhash(col("text")).as("simhash"))
      val groups = d.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("group_size"),
          (countDistinct(col("simhash")) === 1).as("one_simhash"))
      val totals = d.agg(
        (countDistinct(col("simhash")) <= countDistinct(col("digest")))
          .as("no_split"))
      groups.crossJoin(broadcast(totals))
        .select(col("digest"), col("keeper_id"), col("group_size"),
          col("one_simhash"), col("no_split"))
        .orderBy(col("digest"))
    },

    // SemDeDup-style semantic dedup (r11): cluster-blocked cosine near-dup
    // with NO pre-existing blocking column — k-means centroids from the
    // embeddings themselves. Centroid placement is data/sample-dependent,
    // so the gate uses the planted-copy connectivity contract (the
    // q_dedup_minhash_lsh convention): an exact duplicate VECTOR
    // deterministically shares its original's argmax centroid — same
    // cluster, same candidate bucket, connected, independent of where
    // k-means landed. Near copies (per-element noise ≤0.003) enter only
    // through an aggregate recall floor (measured 1.00 at
    // sf0.001/0.01/0.1, PLANS.md "Round-11 additions: semantic dedup
    // margin"; gated ≥0.8).
    "q_dedup_semantic" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") < 50)
      val corpus = e
        .union(base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .union(base.select((col("vec_id") + 2000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> cast(x + " +
            "(pmod(hash(vec_id, i), 7) - 3) * cast(0.001 as float) as float))")
            .as("embedding")))
      val clusters = CorpusFilters.duplicateGroups(
        Dedup.semanticCandidatePairs(corpus, "vec_id", "embedding",
          nCentroids = 16, maxCluster = 256))
        .withColumnRenamed("doc_id", "vec_id")
      def clusterOf(off: Long, as: String) =
        base.select(col("vec_id").as("orig_id"),
            (col("vec_id") + off).as("vec_id"))
          .join(clusters, Seq("vec_id"), "left_outer")
          .select(col("orig_id"), col("cluster_id").as(as))
      val per = clusterOf(0L, "c_orig")
        .join(clusterOf(1000000L, "c_exact"), "orig_id")
        .join(clusterOf(2000000L, "c_near"), "orig_id")
        .select(col("orig_id"),
          (col("c_orig").isNotNull && col("c_orig") === col("c_exact"))
            .as("exact_connected"),
          (col("c_orig").isNotNull && col("c_orig") === col("c_near"))
            .as("near_connected"))
      // unpartitioned-window floor — same rationale as q_dedup_minhash_lsh
      // above (`per` ≤50 rows by construction at every scale)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      per.select(col("orig_id").as("vec_id"), col("exact_connected"),
          (avg(col("near_connected").cast("double")).over(wAll) >= 0.8)
            .as("near_recall_ok"))
        .orderBy(col("vec_id"))
    },

    // embedding cosine near-dup pairs (bounded block: label-blocked join)
    "q_dedup_embedding" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"), col("label"), col("embedding"))
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("cos"))
        .filter(col("cos") >= 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },

    // brute-force cosine top-k (exact ANN baseline)
    "q_sim_topk_brute" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rnk"))
    },

    // IVF approximate top-k (bucketed scale path). The raw rows are
    // centroid-seed-dependent, so the gate emits the [[annTopKContract]]
    // booleans instead (r12 — the q_sim_recall recipe): the full operator
    // still executes, and any rank/score/recall regression flips a pinned
    // boolean into an oracle hash mismatch.
    "q_sim_topk_ivf" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      annTopKContract(e,
        Similarity.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 10, nCentroids = 16, nProbe = 4), k = 10)
    },

    // ANN recall@10 vs brute-force ground truth as a GATE-visible metric:
    // the brute side is SQL-recomputable (same shape as q_sim_topk_brute's
    // oracle), and the engine-dependent IVF/LSH results enter only through
    // threshold booleans asserted IN the query — a recall regression flips
    // them and the oracle hash mismatches. Thresholds sit under the measured
    // floors at every sweep SF (PLANS.md §14 "Round 7": ivf min 0.10 avg
    // ≥0.52, lsh(nBits=4) min 0.10 avg ≥0.44).
    "q_sim_recall" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 20)
      val brute = Similarity.bruteForceTopK(
          e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"))
      val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 10, nCentroids = 16, nProbe = 4)
        .select(col("query_id"), col("vec_id"), lit(true).as("__ivf"))
      val lsh = Similarity.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 10, nBits = 4)
        .select(col("query_id"), col("vec_id"), lit(true).as("__lsh"))
      // ONE evaluation of each subtree (r19, guide §2.4): the pre-r19 shape
      // evaluated the brute-force corpus scan THREE times (the n_brute
      // aggregate plus one semi join per ANN side) and perQ twice (the
      // crossJoin'd averages aggregate). Top-k rows are unique per
      // (query_id, vec_id), so the left joins are semi-join-equivalent
      // membership flags, and the corpus averages attach via an
      // unpartitioned window — perQ is ≤20 rows by construction (the
      // vec_id < 20 query set) at EVERY corpus scale, so the single-partition
      // window is bounded.
      val perQ = brute
        .join(ivf, Seq("query_id", "vec_id"), "left_outer")
        .join(lsh, Seq("query_id", "vec_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_brute"),
          (sum(when(col("__ivf"), 1L).otherwise(0L)) / 10.0).as("ivf_recall"),
          (sum(when(col("__lsh"), 1L).otherwise(0L)) / 10.0).as("lsh_recall"))
      val w = Window.partitionBy()
      perQ.select(col("query_id"), col("n_brute"),
          (col("ivf_recall") >= 0.05).as("ivf_floor_ok"),
          (col("lsh_recall") >= 0.05).as("lsh_floor_ok"),
          (avg(col("ivf_recall")).over(w) >= 0.40).as("ivf_avg_ok"),
          (avg(col("lsh_recall")).over(w) >= 0.30).as("lsh_avg_ok"))
        .orderBy(col("query_id"))
    },

    // persisted IVF index parity: build once, probe in-memory vs probe the
    // saved (partitioned-by-centroid) copy — identical rows expected. The
    // constant-row oracle turns any divergence (or an empty probe result)
    // into a hash mismatch, the stream-parity gate convention.
    "q_sim_index_parity" -> { (s, dir) =>
      import s.implicits._
      val q = t(s, dir, "embeddings").filter(col("vec_id") < 20)
      // build+save memoized per JVM ([[indexFixture]]): the gate times the
      // recurring serving cost — probe the cached assignment vs probe the
      // partition-pruned on-disk copy — not the one-time index build
      val (centroids, assigned, idxDir) = indexFixture(s, dir)
      val (c2, a2) = IvfIndex.load(s, idxDir)
      val mem = IvfIndex.probe(centroids, assigned, q, "vec_id", "embedding", k = 10)
      val disk = IvfIndex.probe(c2, a2, q, "vec_id", "embedding", k = 10)
      // multiset symmetric difference in ONE job (r19, guide §1.2): tag the
      // sides ±1, group by the full row, |Σtag| per row value sums to
      // exactly exceptAll(mem,disk).count + exceptAll(disk,mem).count —
      // the pre-r19 shape cached both probes and ran FOUR actions (two
      // exceptAll counts + a row count + the cache populations)
      val cols = mem.columns.toSeq.map(col)
      val tagged = mem.withColumn("__side", lit(1L))
        .unionByName(disk.withColumn("__side", lit(-1L)))
      val r = tagged.groupBy(cols: _*)
        .agg(sum(col("__side")).as("__d"),
          sum(when(col("__side") === 1L, 1L).otherwise(0L)).as("__nm"))
        .agg(sum(abs(col("__d"))).as("diff"), sum(col("__nm")).as("n"))
        .collect()(0)
      val diff = if (r.isNullAt(0)) 0L else r.getLong(0)
      val n = if (r.isNullAt(1)) 0L else r.getLong(1)
      // diff/n are driver scalars: the returned frame is a LocalRelation
      // with no dependency on the memoized index directory
      Seq(("ivf_index", diff, n > 0)).toDF("op", "diff_rows", "nonempty")
    },

    // token counting + quality features + composite score
    "q_text_quality" -> { (s, dir) =>
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // BPE-ish token counts vs whitespace counts
    "q_text_tokens" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // language-ID heuristic (marker words + han-script check)
    "q_text_langid" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextAnalysis.languageId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    },

    // PII detection + redaction. The synthetic corpus has no real PII, so
    // both sides build the same deterministic contact line per doc, then the
    // operator must count and redact it exactly (plus a clean control doc).
    "q_text_pii" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(
            substring(col("text"), 1, 40),
            lit(" contact u"), col("doc_id"), lit("@mail-example.com"),
            lit(" from 10.2."), (col("doc_id") % 256).cast("int"), lit(".9"),
            lit(" call +1 555 0"), (col("doc_id") % 900 + 100).cast("int")))
          .as("text"))
      TextAnalysis.piiScrub(base, "doc_id", "text").orderBy(col("doc_id"))
    },

    // URL extraction + domain blocklist screening (synthetic URLs built the
    // same way on both sides, as with q_text_pii)
    "q_text_urls" -> { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, col("text"))
          .otherwise(concat(
            substring(col("text"), 1, 30),
            lit(" see https://site"), (col("doc_id") % 50).cast("int"),
            lit(".example.com/p/"), col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(
              lit(" and http://ads"), (col("doc_id") % 7).cast("int"),
              lit(".tracker.net/x"))).otherwise(lit(""))))
          .as("text"))
      TextAnalysis.urlStats(base, "doc_id", "text", Seq(".tracker.net"))
        .orderBy(col("doc_id"))
    },

    // deterministic content-hash train/val/test split (no RNG, reproducible
    // on any engine with md5 — the 100 TB-safe split pattern)
    "q_split_assign" -> { (s, dir) =>
      TextAnalysis.splitAssign(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // fingerprints: md5 digest (oracle-checkable) — rolling-hash winnow
    // fingerprint is hash-seeded, covered in PipelineSpec
    "q_text_fingerprint" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.digest(col("text")).as("digest"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition statistics (dup lines/words, top 2-gram,
    // dup 5-grams) — per-doc sort+fold, no shuffle
    "q_corpus_repetition" -> { (s, dir) =>
      CorpusFilters.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Gopher-style quality gate: bounds + first-failing reject reason
    "q_corpus_quality_gate" -> { (s, dir) =>
      CorpusFilters.qualityGate(t(s, dir, "documents"), "doc_id", "text",
          minWords = 20, maxMeanWordLen = 5.0)
        .orderBy(col("doc_id"))
    },

    // corpus-level boilerplate: word 5-grams shared by >= 2 documents.
    // The gate runs the 100 TB shape: map-side per-doc distinct, then ONE
    // shuffle on the 64-bit gram hash (~8-byte key vs ~40-byte strings),
    // carrying a representative string per bucket.
    "q_boilerplate_ngrams" -> { (s, dir) =>
      CorpusFilters.boilerplateNgramsHashed(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minDocs = 2)
        .orderBy(col("gram"))
    },

    // train/eval decontamination: 4-gram overlap vs the doc_id%97==0 eval
    // slice (broadcast semi join; n=4 chosen for the synthetic vocabulary —
    // real corpora use the 8..13-gram defaults)
    "q_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      CorpusFilters.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    },

    // per-document top-3 TF-IDF terms (two aggregates + broadcast N + window)
    "q_tfidf_top_terms" -> { (s, dir) =>
      CorpusFilters.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rnk"))
    },

    // duplicate clusters via min-label propagation over the deterministic
    // blocked-Jaccard pair set (oracle: DuckDB recursive-CTE reachability)
    "q_dedup_groups" -> { (s, dir) =>
      CorpusFilters.duplicateGroups(blockedJaccardPairs(s, dir))
        .orderBy(col("doc_id"))
    },

    // unigram LM quality score (mean corpus log-prob per token)
    "q_lm_unigram" -> { (s, dir) =>
      CorpusFilters.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // deterministic source mixing: per-source sampling rates in thousandths
    "q_mix_sources" -> { (s, dir) =>
      Sampling.mixSources(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 1000, "src1" -> 500, "src2" -> 250), defaultRate = 100)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // token-budget packing: concat-then-chunk within each source
    "q_pack_sequences" -> { (s, dir) =>
      Sampling.packSequences(t(s, dir, "documents"), "doc_id", "source", "text",
          budgetTokens = 512L)
        .orderBy(col("doc_id"))
    },

    // per-document overlapping chunking (long-context prep): 32-token
    // windows advancing by 24, so adjacent chunks share 8 context tokens
    "q_chunk_docs" -> { (s, dir) =>
      Sampling.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
          maxTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // cosine-LSH ANN top-k (random-hyperplane buckets + hamming-1 probe).
    // Bucket membership is hash-seeded, so like q_sim_topk_ivf the gate
    // emits the [[annTopKContract]] booleans (r12) — full operator
    // execution, oracle-pinned invariants.
    "q_sim_topk_lsh" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      annTopKContract(e,
        Similarity.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 10, nBits = 4), k = 10)
    },

    // int8 symmetric embedding quantization (storage path: 4x smaller)
    "q_embed_quantize" -> { (s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          array_join(col("codes"), ",").as("codes"))
        .orderBy(col("vec_id"))
    },

    // multimodal: REAL image payloads (rendered per row from the fixture
    // manifest) → partition-local ImageIO decode. The oracle recomputes the
    // manifest arithmetic, so width/height/format/mean_px are verified
    // against what the actual decoded bytes must contain. n_bytes is the
    // encoder's output size — not oracle-predictable, so not projected.
    "q_multimodal_decode" -> { (s, dir) =>
      val withImg = Multimodal.withImagePayload(t(s, dir, "documents"), "doc_id")
      Multimodal.decodeImages(s, withImg, "doc_id")
        .select(col("doc_id"), col("width"), col("height"), col("format"), col("mean_px"))
        .orderBy(col("doc_id"))
    },

    // multimodal: REAL WAV codec (javax.sound.sampled) — decoded metadata
    // and exact RMS oracle-recomputable from the fixture-manifest arithmetic
    "q_multimodal_audio" -> { (s, dir) =>
      val withWav = Multimodal.withAudioPayload(
        t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id")
      Multimodal.decodeAudioBatch(withWav, "doc_id")
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), round(col("rms"), 6).as("rms"))
        .orderBy(col("doc_id"))
    },

    // multimodal: frame sampling explode with per-frame digests
    "q_multimodal_frames" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(
        t(s, dir, "documents").filter(col("doc_id") < 300), "text")
      Multimodal.sampleFrames(withBin, "doc_id", chunkBytes = 128)
        .orderBy(col("doc_id"), col("frame_no"))
    },

    // CCNet-style line-level boilerplate removal. The synthetic corpus has
    // no newlines, so both engines derive identical "lines" by splitting on
    // the word 'the' (plain string replace — no regex dialect in play).
    "q_strip_boilerplate" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        call_function("replace", col("text"), lit(" the "), lit("\n")).as("text"))
      CorpusFilters.stripBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
        .orderBy(col("doc_id"))
    },

    // duplicated-substring span coverage (Lee et al. 2022 signal): fraction
    // of each doc's characters under a 20-char window shared with >= 2 docs.
    // Kernel path (rolling-hash gram identity); substring parity in spec.
    "q_dedup_spans" -> { (s, dir) =>
      Dedup.duplicatedSpanCoverage(t(s, dir, "documents"), "doc_id", "text",
          k = 20, minDocs = 2, passes = spansPasses, sizeAware = spansSized,
          scratchDir = spansScratch("q_dedup_spans"))
        .orderBy(col("doc_id"))
    },

    // deterministic global training-order shuffle (seeded LCG permutation;
    // the operator carries all corpus columns — project the key pair here)
    "q_global_shuffle" -> { (s, dir) =>
      Sampling.shuffleOrder(t(s, dir, "documents"), "doc_id", seed = 20260812L)
        .select(col("doc_id"), col("shuffle_key"))
        .orderBy(col("shuffle_key"), col("doc_id"))
    },

    // source balancing: cap each source at ~2.4 tokens/doc worth of budget
    // (= 1200 tokens at the 500-doc driver fixture), rate derived from the
    // actual totals (two tiny aggregates + scan-speed hash filter). The cap
    // scales with corpus size so the gate stays NON-EMPTY at every SF — a
    // fixed 1200 rounded the rate to 0‰ at sf10 and the gate passed on
    // empty output (r12 sf10 sweep finding).
    "q_budget_mix" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Sampling.capSourceTokens(docs, "doc_id", "source", "text",
          capTokens = docs.count() * 12L / 5L)
        .orderBy(col("doc_id"))
    },

    // exact nearest-rank length quantiles per source
    "q_corpus_quantiles" -> { (s, dir) =>
      Sampling.rankQuantiles(t(s, dir, "documents"), "source", "n_chars", "doc_id")
        .orderBy(col("source"), col("pct_mille"))
    },

    // perceptual hash of binary payloads, split hi/lo so the oracle never
    // touches the sign bit
    "q_multimodal_phash" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      withBin.select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          Multimodal.perceptualHash(col("payload")).as("ph"))
        .select(col("doc_id"), col("n_bytes"),
          shiftrightunsigned(col("ph"), 32).as("phash_hi"),
          col("ph").bitwiseAND(lit(0xffffffffL)).as("phash_lo"))
        .orderBy(col("doc_id"))
    },

    // phash near-dup pairs: band blocking + hamming verify. Bands are left
    // on the AUTO default (r17): phashBandsFor picks 4x16 for any corpus
    // <= 65k rows — exactly the banding the DuckDB oracle mirrors at
    // verify scale — and 2x32 past ~10^6 rows, where 4x16 is the
    // proven-OOM configuration (the r16 fourth-decade A/B).
    "q_multimodal_phash_pairs" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      Multimodal.phashNearDupPairs(withBin, "doc_id", "payload", maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // the corpus-scale banding of the same operator (r16): 2 bands x 32
    // bits — 2^32 buckets per band keeps candidates ~linear in n past the
    // ~10^6 rows where the 16-bit default goes quadratic (the r13 census:
    // 13B candidates / OOM at sf100). Recall is guaranteed at hamming < 2
    // and probabilistic above (the multi-index-hashing trade on a fixed
    // 64-bit hash); the oracle mirrors the banding exactly.
    "q_multimodal_phash_pairs_wide" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      Multimodal.phashNearDupPairs(withBin, "doc_id", "payload",
          maxHamming = 8, bands = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // the sizing report behind the banding knob: per band, bucket census +
    // the exact pairs the <=cap buckets emit + the pairs the skew guard
    // would degrade to star edges — the numbers that size bands/maxBucket
    // BEFORE a corpus-scale pair run (and the surface where over-cap
    // degradation stops being silent, r15 verdict)
    "q_multimodal_phash_stats" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      Multimodal.phashBandingStats(withBin, "doc_id", "payload",
        bands = 4, maxBucket = 10000)
    },

    // the 128-bit perceptual hash (r18 verdict: the 64-bit recall cliff is
    // a bit-budget problem, not a banding problem), split into four
    // unsigned 32-bit words so the oracle never touches the sign bit
    "q_multimodal_phash128" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      withBin.select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          Multimodal.perceptualHash128(col("payload")).as("ph"))
        .select(col("doc_id"), col("n_bytes"),
          element_at(col("ph"), 1).bitwiseAND(lit(0xffffffffL)).as("phash_w0"),
          shiftrightunsigned(element_at(col("ph"), 1), 32).as("phash_w1"),
          element_at(col("ph"), 2).bitwiseAND(lit(0xffffffffL)).as("phash_w2"),
          shiftrightunsigned(element_at(col("ph"), 2), 32).as("phash_w3"))
        .orderBy(col("doc_id"))
    },

    // 128-bit near-dup pairs on the AUTO banding (8x16 at any corpus
    // <= 65k rows — the oracle mirrors it). maxHamming = 16 because the
    // finer segments double measured radii vs the 64-bit hash.
    "q_multimodal_phash128_pairs" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      Multimodal.phash128NearDupPairs(withBin, "doc_id", "payload", maxHamming = 16)
        .orderBy(col("id_a"), col("id_b"))
    },

    // the corpus-scale banding of the same operator: 4 bands x 32 bits —
    // the configuration AUTO picks past ~65k rows, with 2^32 buckets per
    // band (candidates ~linear in n to ~4B rows) AND pigeonhole
    // containment to radius 3, where the 64-bit hash at the same
    // selectivity only affords 2 bands / radius 1 (the r18 recall cliff)
    "q_multimodal_phash128_pairs_wide" -> { (s, dir) =>
      val withBin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      Multimodal.phash128NearDupPairs(withBin, "doc_id", "payload",
          maxHamming = 16, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    },

    // the REMOVE step of substring dedup (Lee et al. 2022): min-id owner
    // keeps each duplicated 20-char region, every other doc has it cut out
    "q_cut_spans" -> { (s, dir) =>
      Dedup.cutDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 20, passes = spansPasses, sizeAware = spansSized,
          scratchDir = spansScratch("q_cut_spans"))
        .orderBy(col("doc_id"))
    },

    // the scale path of the same operator (r15): the two-family 128-bit
    // rolling-hash gram identity — ~5x cheaper than shuffling 20-char
    // substrings and collision-safe for a destructive cut. Byte positions:
    // identical output on this single-byte corpus, so it shares
    // q_cut_spans' oracle verbatim.
    "q_cut_spans_kernel" -> { (s, dir) =>
      Dedup.cutDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 20, useKernel = true, passes = spansPasses, sizeAware = spansSized,
          scratchDir = spansScratch("q_cut_spans_kernel"))
        .orderBy(col("doc_id"))
    },

    // end-to-end corpus pipeline: quality gate → repetition filter → exact
    // dedup keeper, with the FIRST failing stage as the reject reason — the
    // composition a real training-data run chains these operators into
    "q_corpus_pipeline" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val quality = CorpusFilters.qualityGate(docs, "doc_id", "text",
          minWords = 20, maxMeanWordLen = 5.0)
        .select(col("doc_id"), col("reject_reason").as("q_reason"))
      val rep = CorpusFilters.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("dup_word_frac"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("digest")
      val keeper = docs
        .select(col("doc_id"), md5(Dedup.normalize(col("text"))).as("digest"))
        .withColumn("keeper_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), (col("doc_id") === col("keeper_id")).as("is_keeper"))
      val reason = when(col("q_reason").isNotNull, concat(lit("quality:"), col("q_reason")))
        .when(col("dup_word_frac") > 0.6, lit("repetition"))
        .when(!col("is_keeper"), lit("duplicate"))
      quality.join(rep, Seq("doc_id")).join(keeper, Seq("doc_id"))
        .select(col("doc_id"), reason.as("reject_reason"), reason.isNull.as("keep"))
        .orderBy(col("doc_id"))
    },

    // near-dup cluster survivors: the keep-list after duplicate grouping
    // (cluster root = min doc id; every other member is dropped)
    "q_dedup_survivors" -> { (s, dir) =>
      val losers = CorpusFilters.duplicateGroups(blockedJaccardPairs(s, dir))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("source"))
        .join(losers, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    },
  )

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
        |       MIN(doc_id) AS keeper_id, COUNT(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,

    "q_dedup_incremental" ->
      """WITH hist AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |  FROM documents WHERE doc_id % 3 <> 0),
        |n AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT n.doc_id, n.digest,
        |       EXISTS (SELECT 1 FROM hist WHERE hist.digest = n.digest) AS is_duplicate
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental_bucketed" ->
      """WITH hist AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |  FROM documents WHERE doc_id % 2 = 0),
        |n AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT n.doc_id, n.digest,
        |       EXISTS (SELECT 1 FROM hist WHERE hist.digest = n.digest) AS is_duplicate
        |FROM n ORDER BY doc_id""".stripMargin,

    // constant-row contracts: the engine-side booleans are theorems
    // (exact-copy connectivity; simhash functional determinism) or
    // measured-floor aggregates — see the query comments. The oracle
    // recomputes every hash-independent column and pins the booleans.
    "q_dedup_minhash_lsh" ->
      """SELECT doc_id, TRUE AS exact_connected, TRUE AS near_recall_ok
        |FROM documents WHERE doc_id < 50 AND length(text) >= 100
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH g AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
        |         MIN(doc_id) AS keeper_id, COUNT(*) AS group_size
        |  FROM documents GROUP BY 1)
        |SELECT digest, keeper_id, group_size,
        |       TRUE AS one_simhash, TRUE AS no_split
        |FROM g ORDER BY digest""".stripMargin,

    "q_dedup_semantic" ->
      """SELECT vec_id, TRUE AS exact_connected, TRUE AS near_recall_ok
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(generate_series(1, length(text) - 2),
        |                       i -> substring(text, CAST(i AS INT), 3))) AS grams
        |  FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
        |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 300),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |         (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(c, 6) AS cos FROM p WHERE ROUND(c, 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    "q_sim_index_parity" ->
      "SELECT 'ivf_index' AS op, CAST(0 AS BIGINT) AS diff_rows, true AS nonempty",

    // annTopKContract gates: one constant-TRUE row per query vector —
    // thresholds sit under the measured per-SF floors (see the helper doc)
    "q_sim_topk_ivf" ->
      """SELECT vec_id AS query_id, TRUE AS within_k, TRUE AS ranks_ok,
        |       TRUE AS sims_sorted, TRUE AS sims_exact, TRUE AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    "q_sim_topk_lsh" ->
      """SELECT vec_id AS query_id, TRUE AS within_k, TRUE AS ranks_ok,
        |       TRUE AS sims_sorted, TRUE AS sims_exact, TRUE AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    "q_sim_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |               (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |                sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, COUNT(*) AS n_brute,
        |       TRUE AS ivf_floor_ok, TRUE AS lsh_floor_ok,
        |       TRUE AS ivf_avg_ok, TRUE AS lsh_avg_ok
        |FROM ranked WHERE rnk <= 10
        |GROUP BY query_id ORDER BY query_id""".stripMargin,

    "q_sim_topk_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |               (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |                sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,

    "q_text_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n_tokens,
        |    ROUND(CAST(length(text) AS DOUBLE) / greatest(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')), 1), 6) AS mean_word_len,
        |    ROUND(CAST(len(regexp_extract_all(text, '[^\p{L}\p{Nd}\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |    ROUND(CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> ''),
        |        w -> list_contains(['the','a','and','of','to','in','is','it','that','for'], lower(w)))) AS DOUBLE)
        |      / greatest(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')), 1), 6) AS stopword_ratio
        |  FROM documents)
        |SELECT *, ROUND(least(1.0, n_tokens / 20.0) * 0.4
        |        + least(1.0, stopword_ratio * 4.0) * 0.3
        |        + (1.0 - least(1.0, punct_ratio * 5.0)) * 0.3, 6) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{Nd}]+|[^\p{L}\p{Nd}\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |         regexp_split_to_array(lower(text), '\s+') AS toks,
        |         len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS han
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, labeled_lang, han,
        |    len(list_filter(toks, w -> list_contains(['the','and','of','is','that','with','for'], w))) AS h_en,
        |    len(list_filter(toks, w -> list_contains(['der','die','das','und','ist','nicht','mit'], w))) AS h_de,
        |    len(list_filter(toks, w -> list_contains(['le','la','les','et','est','pas','pour'], w))) AS h_fr,
        |    len(list_filter(toks, w -> list_contains(['el','la','los','y','es','no','para'], w))) AS h_es
        |  FROM t)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN han > 0 THEN 'zh'
        |       WHEN h_es > greatest(h_en, h_de, h_fr) THEN 'es'
        |       WHEN h_fr > greatest(h_en, h_de) THEN 'fr'
        |       WHEN h_de > h_en THEN 'de'
        |       WHEN h_en > 0 THEN 'en'
        |       ELSE 'und' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_pii" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         ELSE substr(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
        |              || '@mail-example.com' || ' from 10.2.'
        |              || CAST(CAST(doc_id % 256 AS INT) AS VARCHAR) || '.9'
        |              || ' call +1 555 0' || CAST(CAST(doc_id % 900 + 100 AS INT) AS VARCHAR)
        |    END AS text
        |  FROM documents)
        |, casc AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email
        |  FROM base)
        |, casc2 AS (
        |  SELECT *, regexp_replace(no_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS no_ip
        |  FROM casc)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(no_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(no_ip, '\+\d[\d -]{6,14}\d')) AS BIGINT) AS n_phones,
        |  regexp_replace(no_ip, '\+\d[\d -]{6,14}\d', '<PHONE>', 'g') AS redacted
        |FROM casc2 ORDER BY doc_id""".stripMargin,

    "q_text_urls" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text
        |         ELSE substr(text, 1, 30) || ' see https://site'
        |              || CAST(CAST(doc_id % 50 AS INT) AS VARCHAR)
        |              || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |              || CASE WHEN doc_id % 5 = 0
        |                   THEN ' and http://ads' || CAST(CAST(doc_id % 7 AS INT) AS VARCHAR) || '.tracker.net/x'
        |                   ELSE '' END
        |    END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, 'https?://[^\s]+') AS urls FROM base),
        |d AS (
        |  SELECT doc_id, urls,
        |    list_sort(list_distinct(list_transform(urls,
        |      x -> regexp_replace(regexp_extract(x, 'https?://([^/\s]+)', 1), ':[0-9]+$', '')))) AS doms
        |  FROM u)
        |SELECT doc_id,
        |  CAST(len(urls) AS BIGINT) AS n_urls,
        |  COALESCE(array_to_string(doms, ','), '') AS domains,
        |  len(list_filter(doms, x -> x LIKE '%.tracker.net')) > 0 AS has_blocked
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 2) >= 'fe' THEN 'test'
        |       WHEN substr(md5(text), 1, 2) >= 'fc' THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_corpus_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines,
        |         list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lines, words,
        |    CASE WHEN len(words) < 2 THEN [] ELSE
        |      list_transform(generate_series(1, len(words)-1), i -> words[i] || ' ' || words[i+1]) END AS g2,
        |    CASE WHEN len(words) < 5 THEN [] ELSE
        |      list_transform(generate_series(1, len(words)-4), i -> array_to_string(words[i:i+4], ' ')) END AS g5
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  CASE WHEN len(lines) <= 0 THEN 0.0 ELSE ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) END AS dup_line_frac,
        |  CASE WHEN len(words) <= 0 THEN 0.0 ELSE ROUND(CAST(len(words) - len(list_distinct(words)) AS DOUBLE) / len(words), 6) END AS dup_word_frac,
        |  CASE WHEN len(g2) <= 0 THEN 0.0 ELSE ROUND(CAST(list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE) / len(g2), 6) END AS top_2gram_frac,
        |  CASE WHEN len(g5) <= 0 THEN 0.0 ELSE ROUND(CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE) / len(g5), 6) END AS dup_5gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_corpus_quality_gate" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n_words,
        |    length(regexp_replace(text, '\s', '', 'g')) AS letters,
        |    len(regexp_extract_all(text, '[^\p{L}\p{Nd}\s]')) AS symbols,
        |    length(text) AS n_chars,
        |    len(list_distinct(list_transform(list_filter(regexp_split_to_array(text, '\s+'),
        |      w -> list_contains(['the','a','and','of','to','in','is','it','that','for'], lower(w))), w -> lower(w)))) AS stop_distinct
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    ROUND(CAST(letters AS DOUBLE) / greatest(n_words, 1), 6) AS mean_word_len,
        |    ROUND(CAST(symbols AS DOUBLE) / greatest(n_chars, 1), 6) AS symbol_ratio,
        |    CAST(stop_distinct AS BIGINT) AS stop_distinct
        |  FROM f)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_distinct,
        |  CASE WHEN n_words < 20 THEN 'too_short'
        |       WHEN n_words > 100000 THEN 'too_long'
        |       WHEN mean_word_len < 2.0 OR mean_word_len > 5.0 THEN 'word_length'
        |       WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
        |       WHEN stop_distinct < 2 THEN 'stopwords'
        |       ELSE NULL END AS reject_reason,
        |  (CASE WHEN n_words < 20 THEN 'too_short'
        |       WHEN n_words > 100000 THEN 'too_long'
        |       WHEN mean_word_len < 2.0 OR mean_word_len > 5.0 THEN 'word_length'
        |       WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
        |       WHEN stop_distinct < 2 THEN 'stopwords'
        |       ELSE NULL END) IS NULL AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_boilerplate_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(words) < 5 THEN [] ELSE
        |    list_distinct(list_transform(generate_series(1, len(words)-4),
        |      i -> array_to_string(words[i:i+4], ' '))) END) AS gram
        |  FROM w)
        |SELECT gram, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM g GROUP BY gram HAVING COUNT(*) >= 2 ORDER BY gram""".stripMargin,

    "q_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(words) < 4 THEN [] ELSE
        |    list_distinct(list_transform(generate_series(1, len(words)-3),
        |      i -> array_to_string(words[i:i+3], ' '))) END AS grams
        |  FROM w),
        |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
        |cont AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0) t
        |  JOIN eg USING (gram))
        |SELECT doc_id, doc_id IN (SELECT doc_id FROM cont) AS contaminated
        |FROM documents WHERE doc_id % 97 <> 0 ORDER BY doc_id""".stripMargin,

    "q_lm_unigram" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY 1),
        |tot AS (SELECT SUM(tf) AS total FROM tf),
        |lp AS (
        |  SELECT term, CAST(ROUND(ln(CAST(tf AS DOUBLE) / total), 9) AS DECIMAL(28,12)) AS lp
        |  FROM tf CROSS JOIN tot),
        |s AS (
        |  SELECT t.doc_id, COUNT(*) AS n_tokens,
        |         ROUND(CAST(SUM(lp.lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        |  FROM t JOIN lp USING (term) GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens, s.avg_logprob
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_mix_sources" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 % 1000 <
        |      CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
        |                  WHEN 'src2' THEN 250 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,

    "q_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INT)) AS n_chunks
        |  FROM t WHERE len(toks) > 0),
        |e AS (
        |  SELECT doc_id, toks,
        |    UNNEST(generate_series(0, n_chunks - 1)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32), ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32)) AS BIGINT) AS chunk_tokens
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS token_start
        |  FROM t)
        |SELECT doc_id, source, n_tokens, CAST(token_start AS BIGINT) AS token_start,
        |       CAST(floor(CAST(token_start AS DOUBLE) / 512) AS BIGINT) AS chunk_id
        |FROM w ORDER BY doc_id""".stripMargin,

    "q_tfidf_top_terms" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE length(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |         ROUND(tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfq.df + 1)) + 1), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk FROM s)
        |SELECT doc_id, term, tf, df, tfidf, rnk FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "q_dedup_groups" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(generate_series(1, length(text) - 2),
        |                       i -> substring(text, CAST(i AS INT), 3))) AS grams
        |  FROM documents WHERE doc_id < 300),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
        |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT vec_id, ROUND(sc, 9) AS scale,
        |  CASE WHEN sc = 0 THEN array_to_string(list_transform(v, x -> 0), ',')
        |       ELSE array_to_string(list_transform(v, x -> CAST(floor(x / sc + 0.5) AS BIGINT)), ',') END AS codes
        |FROM s ORDER BY vec_id""".stripMargin,

    "q_multimodal_decode" ->
      """SELECT doc_id,
        |       CAST(8 + doc_id % 57 AS INT) AS width,
        |       CAST(8 + (doc_id * 3) % 41 AS INT) AS height,
        |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'bmp' END AS format,
        |       CASE WHEN doc_id % 3 = 1 THEN NULL
        |            ELSE CAST(doc_id % 256 AS DOUBLE) END AS mean_px
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_audio" ->
      """SELECT doc_id,
        |       CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS INT) AS sample_rate,
        |       CAST(doc_id % 2 + 1 AS INT) AS channels,
        |       CAST(200 + doc_id % 800 AS BIGINT) AS n_frames,
        |       ROUND(CAST(doc_id % 20000 AS DOUBLE), 6) AS rms
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, UNNEST(generate_series(1, CAST(ceil(length(text) / 128.0) AS BIGINT))) AS frame_no
        |  FROM documents WHERE doc_id < 300)
        |SELECT d.doc_id, f.frame_no,
        |       CAST(length(substring(d.text, CAST((f.frame_no - 1) * 128 + 1 AS INT), 128)) AS BIGINT) AS frame_len,
        |       md5(substring(d.text, CAST((f.frame_no - 1) * 128 + 1 AS INT), 128)) AS frame_digest
        |FROM f JOIN documents d ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id, f.frame_no""".stripMargin,

    "q_strip_boilerplate" ->
      """WITH d AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
        |l0 AS (SELECT doc_id, lines, UNNEST(generate_series(1, len(lines))) AS pos
        |       FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d) t),
        |l AS (SELECT doc_id, pos, lines[pos] AS line FROM l0),
        |c AS (SELECT line FROM l WHERE regexp_matches(line, '\S')
        |      GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
        |k AS (SELECT doc_id, pos, line FROM l WHERE line NOT IN (SELECT line FROM c)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |          string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
        |       CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
        |       COALESCE(a.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_dedup_spans" ->
      """WITH p AS (
        |  SELECT doc_id, text, UNNEST(generate_series(1, length(text) - 19)) AS pos
        |  FROM documents WHERE length(text) >= 20),
        |g AS (SELECT doc_id, pos, substring(text, CAST(pos AS INT), 20) AS gram FROM p),
        |dg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dg)),
        |c AS (SELECT doc_id, pos,
        |        pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS delta FROM dp),
        |a AS (SELECT doc_id, COUNT(*) AS n_dup_grams,
        |        SUM(CASE WHEN delta IS NULL THEN 20 ELSE least(delta, 20) END) AS dup_chars
        |      FROM c GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(a.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  ROUND(CAST(COALESCE(a.dup_chars, 0) AS DOUBLE) / greatest(length(d.text), 1), 6) AS dup_frac,
        |  CAST(COALESCE(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams
        |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_global_shuffle" ->
      """SELECT doc_id,
        |  (xor(((doc_id % 2147483648)*1103515245 + 12345) % 2147483648,
        |       (20260812*2654435761) % 2147483648) * 69069 + 1) % 2147483648 AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,

    "q_budget_mix" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n
        |  FROM documents),
        |tot AS (SELECT source, SUM(n) AS total FROM tok GROUP BY source),
        |cap AS (SELECT COUNT(*) * 12 // 5 AS cap_tokens FROM documents),
        |r AS (SELECT source, least(1000, (cap_tokens * 1000) // greatest(total, 1)) AS rate_mille FROM tot, cap)
        |SELECT t.doc_id, t.source, CAST(r.rate_mille AS BIGINT) AS rate_mille
        |FROM tok t JOIN r USING (source)
        |WHERE ((t.doc_id % 2147483648 + 506952113)*1103515245 + 12345) % 2147483648 % 1000 < r.rate_mille
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_quantiles" ->
      """WITH r AS (SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |p AS (SELECT UNNEST([250, 500, 750, 900]) AS pct_mille)
        |SELECT source, CAST(pct_mille AS INT) AS pct_mille, CAST(n_chars AS BIGINT) AS value
        |FROM r, p WHERE rn = (pct_mille*n + 999)//1000
        |ORDER BY source, pct_mille""".stripMargin,

    // NOTE: `unicode(substring(...))` yields the CODE POINT, which equals the
    // UTF-8 byte only because the synthetic corpus is all-ASCII (TESTDATA.md;
    // same assumption as the rolling-hash oracles). The phash kernel itself
    // walks bytes — a non-ASCII fixture would need an encode()-based oracle.
    "q_multimodal_phash" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*65)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit >= 32 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS phash_hi,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS phash_lo
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(h.phash_hi, 0) AS BIGINT) AS phash_hi,
        |  CAST(COALESCE(h.phash_lo, 0) AS BIGINT) AS phash_lo
        |FROM d LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,

    // byte-vs-codepoint: see the q_multimodal_phash ASCII-only note above
    "q_multimodal_phash_pairs" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*65)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit >= 32 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS phash_hi,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS phash_lo
        |  FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, phash_hi, phash_lo, UNNEST(generate_series(0, 3)) AS band FROM h),
        |bb2 AS (SELECT doc_id, phash_hi, phash_lo, band,
        |    CASE band WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536
        |              WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS bucket
        |  FROM bands),
        |counted AS (SELECT doc_id, phash_hi, phash_lo, band, bucket,
        |    COUNT(*) OVER (PARTITION BY band, bucket) AS bn,
        |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS rep
        |  FROM bb2),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |         a.phash_hi AS ha, a.phash_lo AS la, b2.phash_hi AS hb, b2.phash_lo AS lb
        |  FROM counted a JOIN counted b2
        |    ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
        |  WHERE a.bn <= 10000
        |  UNION ALL
        |  SELECT c.rep, c.doc_id, hr.phash_hi, hr.phash_lo, c.phash_hi, c.phash_lo
        |  FROM counted c JOIN h hr ON hr.doc_id = c.rep
        |  WHERE c.bn > 10000 AND c.rep < c.doc_id)
        |SELECT DISTINCT id_a, id_b,
        |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 8
        |ORDER BY id_a, id_b""".stripMargin,

    // the 2x32-bit banding: bucket 0 = the low word, bucket 1 = the high
    // word (phash_lo/phash_hi are already the unsigned 32-bit halves)
    "q_multimodal_phash_pairs_wide" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*65)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit >= 32 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS phash_hi,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS phash_lo
        |  FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, phash_hi, phash_lo, UNNEST(generate_series(0, 1)) AS band FROM h),
        |bb2 AS (SELECT doc_id, phash_hi, phash_lo, band,
        |    CASE band WHEN 0 THEN phash_lo ELSE phash_hi END AS bucket
        |  FROM bands),
        |counted AS (SELECT doc_id, phash_hi, phash_lo, band, bucket,
        |    COUNT(*) OVER (PARTITION BY band, bucket) AS bn,
        |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS rep
        |  FROM bb2),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |         a.phash_hi AS ha, a.phash_lo AS la, b2.phash_hi AS hb, b2.phash_lo AS lb
        |  FROM counted a JOIN counted b2
        |    ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
        |  WHERE a.bn <= 10000
        |  UNION ALL
        |  SELECT c.rep, c.doc_id, hr.phash_hi, hr.phash_lo, c.phash_hi, c.phash_lo
        |  FROM counted c JOIN h hr ON hr.doc_id = c.rep
        |  WHERE c.bn > 10000 AND c.rep < c.doc_id)
        |SELECT DISTINCT id_a, id_b,
        |  CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 8
        |ORDER BY id_a, id_b""".stripMargin,

    // the banding census: bucket sizes per band at the 4x16 default
    "q_multimodal_phash_stats" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*65)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit >= 32 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS phash_hi,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS phash_lo
        |  FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, phash_hi, phash_lo, UNNEST(generate_series(0, 3)) AS band FROM h),
        |bb2 AS (SELECT doc_id, band,
        |    CASE band WHEN 0 THEN phash_lo % 65536 WHEN 1 THEN phash_lo // 65536
        |              WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS bucket
        |  FROM bands),
        |bc AS (SELECT band, bucket, COUNT(*) AS n FROM bb2 GROUP BY band, bucket)
        |SELECT CAST(band AS INT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(MAX(n) AS BIGINT) AS max_bucket_n,
        |  CAST(SUM(CASE WHEN n > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS oversized_buckets,
        |  CAST(SUM(CASE WHEN n <= 10000 THEN n*(n-1)//2 ELSE 0 END) AS BIGINT) AS exact_pairs,
        |  CAST(SUM(CASE WHEN n > 10000 THEN n*(n-1)//2 - (n-1) ELSE 0 END) AS BIGINT) AS degraded_pairs
        |FROM bc GROUP BY band ORDER BY band""".stripMargin,

    // 128-bit phash: 129 length-proportional segments, bits 0..127, four
    // unsigned 32-bit words (w0 = bits 0..31 .. w3 = bits 96..127).
    // Byte-vs-codepoint: see the q_multimodal_phash ASCII-only note above.
    "q_multimodal_phash128" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*129)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 127)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS w0,
        |    SUM(CASE WHEN bit >= 32 AND bit < 64 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS w1,
        |    SUM(CASE WHEN bit >= 64 AND bit < 96 AND v = 1 THEN (1::BIGINT << (bit - 64)) ELSE 0 END) AS w2,
        |    SUM(CASE WHEN bit >= 96 AND v = 1 THEN (1::BIGINT << (bit - 96)) ELSE 0 END) AS w3
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(h.w0, 0) AS BIGINT) AS phash_w0,
        |  CAST(COALESCE(h.w1, 0) AS BIGINT) AS phash_w1,
        |  CAST(COALESCE(h.w2, 0) AS BIGINT) AS phash_w2,
        |  CAST(COALESCE(h.w3, 0) AS BIGINT) AS phash_w3
        |FROM d LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the 8x16 AUTO banding (any corpus <= 65k rows); bands 0..7 are the
    // 16-bit slices of the four words low-half-first
    "q_multimodal_phash128_pairs" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*129)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 127)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS w0,
        |    SUM(CASE WHEN bit >= 32 AND bit < 64 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS w1,
        |    SUM(CASE WHEN bit >= 64 AND bit < 96 AND v = 1 THEN (1::BIGINT << (bit - 64)) ELSE 0 END) AS w2,
        |    SUM(CASE WHEN bit >= 96 AND v = 1 THEN (1::BIGINT << (bit - 96)) ELSE 0 END) AS w3
        |  FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, w0, w1, w2, w3, UNNEST(generate_series(0, 7)) AS band FROM h),
        |bb2 AS (SELECT doc_id, w0, w1, w2, w3, band,
        |    CASE band WHEN 0 THEN w0 % 65536 WHEN 1 THEN w0 // 65536
        |              WHEN 2 THEN w1 % 65536 WHEN 3 THEN w1 // 65536
        |              WHEN 4 THEN w2 % 65536 WHEN 5 THEN w2 // 65536
        |              WHEN 6 THEN w3 % 65536 ELSE w3 // 65536 END AS bucket
        |  FROM bands),
        |counted AS (SELECT doc_id, w0, w1, w2, w3, band, bucket,
        |    COUNT(*) OVER (PARTITION BY band, bucket) AS bn,
        |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS rep
        |  FROM bb2),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |         a.w0 AS a0, a.w1 AS a1, a.w2 AS a2, a.w3 AS a3,
        |         b2.w0 AS b0, b2.w1 AS b1, b2.w2 AS b2w, b2.w3 AS b3
        |  FROM counted a JOIN counted b2
        |    ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
        |  WHERE a.bn <= 10000
        |  UNION ALL
        |  SELECT c.rep, c.doc_id, hr.w0, hr.w1, hr.w2, hr.w3, c.w0, c.w1, c.w2, c.w3
        |  FROM counted c JOIN h hr ON hr.doc_id = c.rep
        |  WHERE c.bn > 10000 AND c.rep < c.doc_id)
        |SELECT DISTINCT id_a, id_b,
        |  CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
        |     + bit_count(xor(a2, b2w)) + bit_count(xor(a3, b3)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
        |    + bit_count(xor(a2, b2w)) + bit_count(xor(a3, b3)) <= 16
        |ORDER BY id_a, id_b""".stripMargin,

    // the 4x32 corpus-scale banding: band b's bucket IS word b
    "q_multimodal_phash128_pairs_wide" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |p AS (SELECT doc_id, n, text, UNNEST(generate_series(0, n-1)) AS i FROM d WHERE n > 0),
        |sb AS (SELECT doc_id, (i*129)//n AS seg,
        |         unicode(substring(text, CAST(i+1 AS INT), 1)) AS byte FROM p),
        |seg AS (SELECT doc_id, seg, SUM(byte) AS segsum FROM sb GROUP BY doc_id, seg),
        |bits AS (
        |  SELECT ids.doc_id, bb.b AS bit,
        |    CASE WHEN COALESCE(s1.segsum, 0) > COALESCE(s2.segsum, 0) THEN 1 ELSE 0 END AS v
        |  FROM (SELECT doc_id FROM d) ids
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 127)) AS b) bb
        |  LEFT JOIN seg s1 ON s1.doc_id = ids.doc_id AND s1.seg = bb.b
        |  LEFT JOIN seg s2 ON s2.doc_id = ids.doc_id AND s2.seg = bb.b + 1),
        |h AS (SELECT doc_id,
        |    SUM(CASE WHEN bit < 32 AND v = 1 THEN (1::BIGINT << bit) ELSE 0 END) AS w0,
        |    SUM(CASE WHEN bit >= 32 AND bit < 64 AND v = 1 THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS w1,
        |    SUM(CASE WHEN bit >= 64 AND bit < 96 AND v = 1 THEN (1::BIGINT << (bit - 64)) ELSE 0 END) AS w2,
        |    SUM(CASE WHEN bit >= 96 AND v = 1 THEN (1::BIGINT << (bit - 96)) ELSE 0 END) AS w3
        |  FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, w0, w1, w2, w3, UNNEST(generate_series(0, 3)) AS band FROM h),
        |bb2 AS (SELECT doc_id, w0, w1, w2, w3, band,
        |    CASE band WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END AS bucket
        |  FROM bands),
        |counted AS (SELECT doc_id, w0, w1, w2, w3, band, bucket,
        |    COUNT(*) OVER (PARTITION BY band, bucket) AS bn,
        |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS rep
        |  FROM bb2),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |         a.w0 AS a0, a.w1 AS a1, a.w2 AS a2, a.w3 AS a3,
        |         b2.w0 AS b0, b2.w1 AS b1, b2.w2 AS b2w, b2.w3 AS b3
        |  FROM counted a JOIN counted b2
        |    ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
        |  WHERE a.bn <= 10000
        |  UNION ALL
        |  SELECT c.rep, c.doc_id, hr.w0, hr.w1, hr.w2, hr.w3, c.w0, c.w1, c.w2, c.w3
        |  FROM counted c JOIN h hr ON hr.doc_id = c.rep
        |  WHERE c.bn > 10000 AND c.rep < c.doc_id)
        |SELECT DISTINCT id_a, id_b,
        |  CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
        |     + bit_count(xor(a2, b2w)) + bit_count(xor(a3, b3)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
        |    + bit_count(xor(a2, b2w)) + bit_count(xor(a3, b3)) <= 16
        |ORDER BY id_a, id_b""".stripMargin,

    "q_cut_spans" ->
      """WITH p AS (SELECT doc_id, text, UNNEST(generate_series(1, length(text)-19)) AS pos
        |           FROM documents WHERE length(text) >= 20),
        |g AS (SELECT doc_id, pos, substring(text, CAST(pos AS INT), 20) AS gram FROM p),
        |gs AS (SELECT gram, MIN(doc_id) AS owner
        |       FROM (SELECT DISTINCT doc_id, gram FROM g) GROUP BY gram HAVING COUNT(*) >= 2),
        |rm AS (SELECT g.doc_id, g.pos FROM g JOIN gs USING (gram) WHERE g.doc_id <> gs.owner),
        |fl AS (SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 20
        |              THEN 1 ELSE 0 END AS newisl
        |       FROM rm WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |il AS (SELECT doc_id, pos,
        |         SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM fl),
        |iv AS (SELECT doc_id, isl, MIN(pos) AS rm_start, MAX(pos)+20 AS rm_end
        |       FROM il GROUP BY doc_id, isl),
        |heads AS (SELECT doc_id, COALESCE(lag(rm_end) OVER w2, 1) AS seg_start,
        |                 rm_start - COALESCE(lag(rm_end) OVER w2, 1) AS seg_len
        |          FROM iv WINDOW w2 AS (PARTITION BY doc_id ORDER BY rm_start)),
        |tails AS (SELECT doc_id, MAX(rm_end) AS seg_start,
        |                 SUM(rm_end - rm_start) AS removed FROM iv GROUP BY doc_id),
        |segs AS (SELECT doc_id, seg_start, seg_len FROM heads WHERE seg_len > 0
        |         UNION ALL SELECT doc_id, seg_start, 2147483647 AS seg_len FROM tails),
        |pieces AS (SELECT s.doc_id, s.seg_start,
        |             substring(d.text, CAST(s.seg_start AS INT), CAST(s.seg_len AS INT)) AS piece
        |           FROM segs s JOIN documents d USING (doc_id)),
        |cut AS (SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS cut_text
        |        FROM pieces GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |       CAST(COALESCE(t.removed, 0) AS BIGINT) AS removed_chars,
        |       COALESCE(c.cut_text, d.text) AS clean_text
        |FROM documents d LEFT JOIN cut c USING (doc_id) LEFT JOIN tails t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_pipeline" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS n_words,
        |    length(regexp_replace(text, '\s', '', 'g')) AS letters,
        |    len(regexp_extract_all(text, '[^\p{L}\p{Nd}\s]')) AS symbols,
        |    length(text) AS n_chars,
        |    len(list_distinct(list_transform(list_filter(regexp_split_to_array(text, '\s+'),
        |      w -> list_contains(['the','a','and','of','to','in','is','it','that','for'], lower(w))), w -> lower(w)))) AS stop_distinct
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN n_words < 20 THEN 'too_short'
        |         WHEN n_words > 100000 THEN 'too_long'
        |         WHEN ROUND(CAST(letters AS DOUBLE)/greatest(n_words,1), 6) < 2.0
        |           OR ROUND(CAST(letters AS DOUBLE)/greatest(n_words,1), 6) > 5.0 THEN 'word_length'
        |         WHEN ROUND(CAST(symbols AS DOUBLE)/greatest(n_chars,1), 6) > 0.1 THEN 'symbol_ratio'
        |         WHEN stop_distinct < 2 THEN 'stopwords'
        |         ELSE NULL END AS q_reason
        |  FROM f),
        |ww AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words FROM documents),
        |r AS (SELECT doc_id, CASE WHEN len(words) <= 0 THEN 0.0
        |        ELSE ROUND(CAST(len(words) - len(list_distinct(words)) AS DOUBLE) / len(words), 6) END AS dwf
        |      FROM ww),
        |dg AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest FROM documents),
        |k AS (SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY digest) AS is_keeper FROM dg)
        |SELECT m.doc_id,
        |  CASE WHEN m.q_reason IS NOT NULL THEN 'quality:' || m.q_reason
        |       WHEN r.dwf > 0.6 THEN 'repetition'
        |       WHEN NOT k.is_keeper THEN 'duplicate' ELSE NULL END AS reject_reason,
        |  (CASE WHEN m.q_reason IS NOT NULL THEN 'quality:' || m.q_reason
        |       WHEN r.dwf > 0.6 THEN 'repetition'
        |       WHEN NOT k.is_keeper THEN 'duplicate' ELSE NULL END) IS NULL AS keep
        |FROM m JOIN r USING (doc_id) JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_dedup_survivors" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(generate_series(1, length(text) - 2),
        |                       i -> substring(text, CAST(i AS INT), 3))) AS grams
        |  FROM documents WHERE doc_id < 300),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
        |losers AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> MIN(r))
        |SELECT doc_id, source FROM documents
        |WHERE doc_id < 300 AND doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
  )
}
