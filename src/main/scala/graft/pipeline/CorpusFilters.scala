package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-quality operators for training-data pipelines: the published
  * Gopher/C4-style repetition and quality heuristics, corpus-level
  * boilerplate detection, and train/eval decontamination.
  *
  * 100 TB design rules:
  *  - per-document statistics are pure projections (no shuffle); the
  *    within-document counting uses sort+fold (O(n log n) per doc), never
  *    the O(n²) "filter the array per distinct element" shape;
  *  - corpus-level operators (boilerplate, decontamination) shuffle once on
  *    the n-gram — after a per-document `array_distinct` so each document
  *    contributes each gram once (map-side dedup before the exchange);
  *  - decontamination broadcasts the eval-set grams (the eval corpus is
  *    small by construction) so the 100 TB side is a single scan + semi join.
  */
object CorpusFilters {

  /** Word `n`-grams as strings ("w1 w2 … wn"); empty array when the document
    * has fewer than `n` words. One-pass codegen kernel (TextKernels) — the
    * lambda formulation (`transform(sequence…, slice…)`) is interpreted per
    * gram and was ~15 µs/gram; `distinct = true` also folds the
    * `array_distinct` into the same pass. */
  def wordGrams(text: Column, n: Int, distinct: Boolean = false): Column =
    graft.functions.TextExprs.word_ngrams(text, n, distinct)

  /** Canonical tokenization: maximal runs of non-whitespace. `split(trim(t),
    * "\\s+")` leaves a phantom empty token when the text starts with
    * non-space whitespace (trim strips spaces only), which would disagree
    * with the one-pass kernels — filter empties so every word-based stat and
    * the gram kernels count the same tokens. */
  private[pipeline] def splitWords(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Count of the most frequent element — interpreted fold formulation,
    * kept as the parity baseline for the [[graft.functions.TextExprs.max_freq]]
    * codegen kernel (PipelineSpec pins kernel == fold): `aggregate` is a
    * HigherOrderFunction, interpreted per element, which made this the
    * dominant per-gram cost of [[repetitionStats]]. Production paths use
    * the kernel. Sort the array, then a single left fold tracks the current
    * run length and the best run — O(n log n) per document vs the quadratic
    * per-distinct-element rescan. */
  def maxRunCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(0).as("best"), lit(0).as("run"), lit("").as("prev")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(greatest(acc.getField("best"), run).as("best"),
          run.as("run"), x.as("prev"))
      },
      acc => acc.getField("best"))

  /** Gopher-style repetition statistics, one row per document:
    *  - dup_line_frac:  fraction of lines that repeat an earlier line
    *  - dup_word_frac:  fraction of word occurrences that are repeats
    *  - top_2gram_frac: occurrences of the most frequent word 2-gram over
    *                    all 2-gram occurrences
    *  - dup_5gram_frac: fraction of 5-gram occurrences that are repeats
    * All fractions are exact small-integer ratios rounded to 6 places.
    * Pure projection — runs at scan speed and column-prunes to (id, text). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = splitWords(col(textCol))
    val lines = split(col(textCol), "\n")
    def dupFrac(arr: Column): Column = {
      val n = size(arr)
      when(n <= 0, lit(0.0))
        .otherwise(round((n - size(array_distinct(arr))).cast("double") / n, 6))
    }
    val g2 = wordGrams(col(textCol), 2)
    val topFrac = when(size(g2) <= 0, lit(0.0))
      .otherwise(round(graft.functions.TextExprs.max_freq(g2).cast("double")
        / size(g2), 6))
    df.select(col(idCol),
      size(words).cast("bigint").as("n_words"),
      dupFrac(lines).as("dup_line_frac"),
      dupFrac(words).as("dup_word_frac"),
      topFrac.as("top_2gram_frac"),
      dupFrac(wordGrams(col(textCol), 5)).as("dup_5gram_frac"))
  }

  /** Gopher-style document quality gate: bounds on word count and mean word
    * length, a symbol-to-character ratio cap, and a minimum number of
    * distinct stopwords. Emits the features, a keep flag, and the FIRST
    * failing rule as reject_reason (null when kept) so a pipeline can both
    * filter and audit why documents dropped. Pure projection. */
  def qualityGate(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 10, maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.1, minStopwords: Int = 2): DataFrame = {
    val t = col(textCol)
    // single-pass kernel: [n_words, non-ws codepoints, symbols, stop hits].
    // The regex/lambda formulation was correct but each downstream reference
    // (the reject_reason when-chain gets substituted into filter predicates)
    // re-ran ~5 regex scans + an interpreted lambda per row — 15 s for a
    // filter(keep) over 2M docs. The kernel re-evaluates in <0.5 s.
    val stats = graft.functions.TextExprs.quality_stats(t, TextAnalysis.StopWords)
    val nWords = element_at(stats, 1)
    val meanLen = round(element_at(stats, 2).cast("double")
      / greatest(nWords.cast("double"), lit(1.0)), 6)
    val symbolRatio = round(element_at(stats, 3).cast("double")
      / greatest(length(t).cast("double"), lit(1.0)), 6)
    val stopDistinct = element_at(stats, 4)
    // evaluated via withColumn after the projection, so reference only
    // projected columns (the text column is already pruned away)
    val reason = when(col("n_words") < minWords, lit("too_short"))
      .when(col("n_words") > maxWords, lit("too_long"))
      .when(col("mean_word_len") < minMeanWordLen
        || col("mean_word_len") > maxMeanWordLen, lit("word_length"))
      .when(col("symbol_ratio") > maxSymbolRatio, lit("symbol_ratio"))
      .when(col("stop_distinct") < minStopwords, lit("stopwords"))
      .otherwise(lit(null).cast("string"))
    df.select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), stopDistinct.as("stop_distinct"))
      .withColumn("reject_reason", reason)
      .withColumn("keep", col("reject_reason").isNull)
  }

  /** Corpus-level boilerplate detection: word `n`-grams that appear in at
    * least `minDocs` DISTINCT documents, with how many documents and the
    * lowest document id carrying them. The per-document `array_distinct`
    * dedups before the explode, so the single shuffle on the gram string
    * carries each (doc, gram) once; partial aggregation then combines
    * map-side. At 100 TB the gram string would be replaced by its 64-bit
    * hash (same plan shape, narrower exchange). */
  def boilerplateNgrams(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(wordGrams(col(textCol), n, distinct = true)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document top-k TF-IDF terms. Three bounded shuffles: (doc, term)
    * counts, term document-frequencies (an aggregate of the first — partial
    * combine applies), and the per-doc top-k window; the corpus size N is a
    * one-row broadcast. idf = ln((N+1)/(df+1)) + 1 (smoothed), rounded to 6
    * so the DuckDB oracle hashes identically. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc term frequencies are row-local: the word_counts kernel computes
    // them in the scan projection, so the widest stage of the pipeline (one
    // row per token shuffled to co-locate by (doc, term)) disappears —
    // explode is narrow and the first exchange only moves (term, df) partials
    val tf = df.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextExprs.word_counts(col(textCol))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(count_distinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rnk").cast("bigint").as("rnk"))
  }

  /** Duplicate clusters from near-duplicate pairs: connected components,
    * labeled by the component's minimum id.
    *
    * Two paths, chosen by edge count (the k-means/IVF precedent: fit the
    * bounded part on the driver, keep the corpus-sized part distributed):
    *  - pair sets up to `driverLimit` rows collect to the driver and run
    *    union-find with union-by-min + path compression — exact, ~16 MB and
    *    milliseconds per million edges, vs ~1 s of job-scheduling overhead
    *    PER ROUND for the distributed loop (union-find needs neither
    *    symmetric nor deduplicated edges, so the raw candidate pairs are
    *    collected as-is — r19; the pre-r19 threshold counted the
    *    symmetric-distinct edge set, ≈2× the distinct pairs, so the branch
    *    cutoff moved slightly but both branches label identically);
    *  - larger edge sets run iterative min-label propagation: each round
    *    joins the current labels across the edge list and takes the min seen,
    *    converging in O(cluster diameter) rounds (near-dup clusters are
    *    shallow stars — 3-5 typical). Two hash joins per round, no
    *    driver-side graph — the shape GraphX's connectedComponents lowers to.
    */
  def duplicateGroups(pairs: DataFrame, maxIters: Int = 20,
      driverLimit: Long = 1000000L): DataFrame = {
    // ONE eager localCheckpoint runs the (possibly expensive) candidate-pair
    // plan a single time; everything below reads the checkpoint. The pre-r19
    // shape checkpointed TWICE (pairs, then the symmetric-distinct edges)
    // and ran a count() action before the collect — union-find needs neither
    // symmetry nor dedup nor an exact pre-count (a limit(driverLimit+1)
    // collect answers "small enough?" and delivers the rows in the same
    // job), so the driver branch now costs one job instead of four.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    // the driver union-find below works on Long keys; non-integral id
    // columns (string doc ids are common) would cast to NULL and crash the
    // typed collect — the distributed branch is id-type-agnostic, use it
    val integralIds = Seq("id_a", "id_b").forall(c => pairs.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    if (integralIds) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val cap = math.min(driverLimit + 1, Int.MaxValue.toLong).toInt
      val es = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .limit(cap).as[(Long, Long)].collect()
      if (es.length <= driverLimit) {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) {
            val pp = parent(x)
            parent(x) = parent.getOrElse(pp, pp) // path halving
            x = parent(x)
          }
          x
        }
        es.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // union by min so the root IS the cluster id
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
        return ids.map(id => (id, find(id))).toDF("doc_id", "cluster_id")
      }
    }
    propagateMinLabels(symmetricEdges(p), maxIters)._1
  }

  /** Both-directions distinct edge list over an already-checkpointed pair
    * frame, materialized once — the propagation loop reads it per round,
    * so the distinct shuffle must not re-run per iteration. */
  private def symmetricEdges(p: DataFrame): DataFrame =
    p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()

  /** The distributed branch of [[duplicateGroups]]: iterative min-label
    * propagation, two hash joins per round, no driver-side graph. Returns
    * (labels, rounds-to-converge) — the round count is the O(cluster
    * diameter) claim made in the operator's Scaladoc, surfaced so the
    * scale probe can record it instead of asserting it in a comment. */
  private def propagateMinLabels(edges: DataFrame, maxIters: Int): (DataFrame, Int) = {
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaNeighbor = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nlabel"))
      // eager localCheckpoint each round: cache() alone leaves the LOGICAL
      // plan growing by two joins per round, and by ~13 rounds the plan
      // (and AQE's per-update explain rendering of it) is exponentially
      // large — deep components OOMed the driver before any executor did
      // real work. Checkpointing truncates lineage so every round's plan
      // is round-1-sized; the materialization is free (the `changed` probe
      // below forces it anyway), and out-of-scope checkpoint blocks are
      // reclaimed by the ContextCleaner as rounds advance.
      val prev = labels
      val next = labels.join(viaNeighbor, Seq("id"), "left_outer")
        .select(col("id"), least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint()
      val changed = next.join(prev.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // a silent exit at maxIters returns WRONG labels (one real cluster
    // split into several ids) — min labels move one hop per round, so a
    // component of diameter > maxIters simply hasn't finished. Fail with
    // the knob named rather than report fractured clusters as truth.
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIters rounds — a duplicate " +
        "cluster has diameter > maxIters; raise maxIters (rounds needed ≈ " +
        "the longest chain of overlapping near-duplicates)")
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")), iter)
  }

  /** Probe/spec hook: force the distributed label-propagation branch
    * regardless of edge count (a ≥`driverLimit`-edge fixture would make
    * unit tests pay minutes of shuffle). Returns (labels, rounds). */
  private[graft] def duplicateGroupsDistributed(
      pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) =
    propagateMinLabels(symmetricEdges(
      pairs.select(col("id_a"), col("id_b")).localCheckpoint()), maxIters)

  /** Unigram language-model quality score: the mean log-probability of a
    * document's tokens under the corpus unigram distribution — the classic
    * "does this look like natural text from this corpus" signal (low scores
    * flag gibberish / rare-token spam). Two aggregates (term counts; their
    * grand total broadcast as one row) and one join back to the token
    * stream.
    *
    * Float determinism across engines: each term's ln is rounded to 9
    * places, then summed as DECIMAL (order-independent, so Spark's shuffle
    * order can't drift against the sequential SQL oracle); the final mean
    * divides as double and rounds to 6. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per-doc term frequencies via the word_counts kernel: every exchange
    // below moves one row per DISTINCT (doc, term), never one per token —
    // sum(lp * dtf) is exact-decimal-equal to summing lp once per occurrence
    val dtf = df.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextExprs.word_counts(col(textCol))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("dtf"))
    val tf = dtf.groupBy(col("term")).agg(sum(col("dtf")).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total"))
    // lp as decimal(11,9): |log prob| < 100 at 9 rounded decimals, and
    // (11,9) × bigint(20,0) = decimal(32,9) — exact for ANY tf without the
    // silent precision squeeze (or NULL-on-overflow) a wider lp would hit
    val termLp = tf.crossJoin(broadcast(total))
      .select(col("term"),
        round(log(col("tf").cast("double") / col("total")), 9)
          .cast("decimal(11,9)").as("lp"))
    val scored = dtf.join(termLp, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("dtf")).as("n_tokens"),
        sum(col("lp") * col("dtf")).as("lp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lp_sum").cast("double") / col("n_tokens"), 6).as("avg_logprob"))
    // one row per INPUT doc like every sibling per-doc operator: an
    // empty/null text has no tokens to explode and would otherwise vanish
    // from the output (an inner-join consumer silently loses the doc);
    // emit n_tokens=0 with a NULL score instead
    df.select(col(idCol).as("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_logprob"))
  }

  /** The 100 TB variant of [[boilerplateNgrams]]: shuffle on the 64-bit
    * xxhash of the gram instead of the gram string (an ~8-byte exchange key
    * vs ~40-byte strings), carrying one representative string per bucket via
    * min(). Collisions at 64 bits are ~n²/2⁶⁵ — negligible against corpus
    * sizes — and only ever merge two distinct grams' counts. */
  def boilerplateNgramsHashed(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(wordGrams(col(textCol), n, distinct = true)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram_hash"), col("gram"))
      .groupBy(col("gram_hash"))
      .agg(min(col("gram")).as("gram"), count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .select(col("gram"), col("n_docs"), col("first_doc"))

  /** Train/eval decontamination: flag training documents sharing any word
    * `n`-gram with the (small) eval set. The eval grams are deduped, HASHED
    * (xxhash64 — an 8-byte key instead of a ~60-byte 8-gram string, so the
    * broadcast table and every probe comparison shrink ~8×), and broadcast;
    * the training side is one scan → explode distinct grams → hash → broadcast
    * semi join → distinct ids. No shuffle touches the corpus beyond the final
    * distinct on the (tiny) contaminated-id set. A 64-bit collision
    * (~n²/2⁶⁵) can only over-flag a training doc — the conservative
    * direction for decontamination. */
  def decontaminate(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    def grams(d: DataFrame) = d.select(col(idCol),
      explode(wordGrams(col(textCol), n, distinct = true)).as("gram"))
    val evalGrams = grams(eval)
      .select(xxhash64(col("gram")).as("gram_hash")).distinct()
    val contaminated = grams(train)
      .select(col(idCol), xxhash64(col("gram")).as("gram_hash"))
      .join(broadcast(evalGrams), Seq("gram_hash"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("contaminated", lit(true))
    train.select(col(idCol))
      .join(contaminated, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** CCNet-style line-level boilerplate removal: delete every line that
    * occurs verbatim in ≥ `minDocs` distinct documents (navigation chrome,
    * cookie banners, license footers), preserving the order of the
    * surviving lines. Returns one row per input document:
    * (doc_id, n_lines, n_removed, clean_text).
    *
    * Shape: explode lines with their position → one shuffle groups by the
    * line to count distinct documents → the common-line set joins back on
    * the same key (exchange reused; AQE broadcasts it when small) as a
    * left-anti → per-doc re-assembly sorts the surviving (pos, line) pairs
    * inside the aggregate (array_sort over a per-document array — bounded
    * by document size, no extra shuffle). Duplicate lines WITHIN one
    * document don't count toward `minDocs` (countDistinct on doc id), which
    * is the CCNet rule — repetition inside a page is the repetition
    * filter's job, not dedup's.
    */
  def stripBoilerplateLines(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, delim: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("pos", "line")))
    // distinct doc-count per line without countDistinct's two-phase distinct:
    // dedupe lines inside each document map-side (narrow per-doc array), so
    // a plain count() over one exchange counts documents
    val common = df.select(
        explode(array_distinct(split(col(textCol),
          java.util.regex.Pattern.quote(delim)))).as("line"))
      // blank/whitespace-only lines are STRUCTURE, not boilerplate — any
      // two docs with a paragraph break would otherwise make "" a common
      // line and every document would lose its paragraph separators
      .filter(col("line").rlike("\\S"))
      .groupBy("line")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("line")
    val kept = lines.join(common, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(delim,
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean_text"))
    // n_lines is a narrow per-row expression — no need to explode and
    // shuffle every line again just to count them
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
