package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replicates a test-data directory N× into parallel key universes for the
  * sf1.0 sweep (r11, VERDICT task 4): the driver only ships
  * sf{0.001,0.01,0.1}, and the 2×-of-baseline bar is measured at sf0.1
  * only — a 10× corpus is needed once to see whose cost curve bends.
  *
  *  - TPC-H-ish tables: every key column shifts by `replica * (max+1)` in
  *    its own domain, so joins stay referentially intact (replica = a
  *    parallel universe) and fact tables grow by exactly N×. region/nation
  *    stay fixed (dimensions).
  *  - documents: replica > 0 texts are deterministically word-shuffled
  *    (sort by hash(word, replica)), so replicas are genuinely DISTINCT
  *    documents — naive duplication would hand the LSH family an
  *    unrealistic 10-clone cluster per doc and flag superlinear growth
  *    that real sf1.0 data would not have.
  *  - embeddings: replica > 0 vectors get deterministic per-element noise
  *    (same reasoning for ANN candidate structure).
  *  - events: event_id shifts; ts/user_id stay — larger SF = denser
  *    activity in the same window, which is how the driver generator
  *    scales too (sf0.1's events span the same dates as sf0.001's).
  *
  * Two growth regimes (r13, VERDICT item 1): the default `density` mode is
  * the r11 generator above — the key UNIVERSE of users/payload byte
  * distributions stays fixed while rows grow, so pair-generating operators
  * (phash near-dup, interval join) see per-key density rise with SF and
  * their OUTPUT grows ~quadratically per decade. Real 100 TB corpora grow
  * the other way — more users, more distinct images, more subcorpora — so
  * `universe` mode makes each replica a genuinely NEW key universe:
  *  - events: user_id shifts per replica (new users, same per-user density);
  *  - documents: texts pass a per-replica random letter PERMUTATION and are
  *    NOT word-shuffled (word lengths/whitespace preserved, byte
  *    distribution genuinely new). A char-alphabet bijection maps character
  *    shingles 1:1, so each universe carries EXACTLY the base corpus's
  *    near-dup pair structure while sharing no shingles with any other
  *    universe — per-universe dup density stays fixed as rows grow, which is
  *    the realistic 100 TB regime. The density-mode word-shuffle must NOT be
  *    applied here: sorting words by hash(w, r) puts every doc in a replica
  *    into one canonical global word order, so docs that merely share
  *    vocabulary collapse into near-identical char sequences — the first
  *    sf1u probe measured 3254× candidate growth for 10× data from exactly
  *    this artifact (PLANS.md r13);
  *  - everything else as in density mode (keys already shift).
  * Composable: universe-scaling an already universe-scaled dir composes
  * permutations (still a permutation) and shifts; the permutation seed is
  * salted with the source path so composed runs draw distinct families.
  *
  * Run: sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 target/sf1.0 10"
  *      sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 target/sf10u 100 universe documents,events"
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, fStr) = args.take(3)
    val factor = fStr.toInt
    val universe = args.lift(3).contains("universe")
    val only: Option[Set[String]] =
      args.lift(4).filter(t => t.nonEmpty && t != "all")
        .map(_.split(",").map(_.trim).toSet)
    val s = graft.engine.GraftSession.create("local[32]", 32)
    s.sparkContext.setLogLevel("WARN")

    def tbl(n: String) = graft.Tables.load(s, src, n)
    def step(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    // lazy: a table-filtered run (5th arg) must not load tables absent
    // from a partially-generated source dir
    lazy val oStep = step(tbl("orders"), "o_orderkey")
    lazy val cStep = step(tbl("customer"), "c_custkey")
    lazy val pStep = step(tbl("part"), "p_partkey")
    lazy val sStep = step(tbl("supplier"), "s_suppkey")
    lazy val eStep = step(tbl("events"), "event_id")
    lazy val uStep = step(tbl("events"), "user_id")
    lazy val dStep = step(tbl("documents"), "doc_id")
    lazy val vStep = step(tbl("embeddings"), "vec_id")

    def replicate(name: String)(mk: (DataFrame, Int) => DataFrame): Unit =
      if (only.forall(_.contains(name))) {
        val base = tbl(name)
        val out = (0 until factor).map(r => mk(base, r)).reduce(_ union _)
        out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
        println(s"[scaleup] $name -> ${factor}x")
      }

    // dimensions: copy through unchanged
    Seq("region", "nation").filter(n => only.forall(_.contains(n))).foreach { n =>
      tbl(n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
    }
    replicate("customer") { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * cStep)) }
    replicate("supplier") { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * sStep)) }
    replicate("part") { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * pStep)) }
    replicate("orders") { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * oStep))
        .withColumn("o_custkey", col("o_custkey") + lit(r * cStep)) }
    replicate("lineitem") { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * oStep))
        .withColumn("l_partkey", col("l_partkey") + lit(r * pStep))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * sStep)) }
    replicate("events") { (d, r) =>
      // +r ms per replica: keeps the 10× density but breaks the exact
      // duplicate timestamps plain replication would plant (real data has
      // distinct event times; engines tie-break session boundaries on
      // equal timestamps differently, which showed as ±6 rows in 95k at
      // the first sweep)
      val shifted = d.withColumn("event_id", col("event_id") + lit(r * eStep))
        .withColumn("ts", timestamp_micros(
          unix_micros(col("ts").cast("timestamp")) + lit(r.toLong * 1000L))
          .cast("timestamp_ntz"))
      // universe mode: each replica brings NEW users at the base per-user
      // density, instead of densifying the fixed user set
      if (universe) shifted.withColumn("user_id", col("user_id") + lit(r * uStep))
      else shifted }
    replicate("documents") { (d, r) =>
      val text =
        if (r == 0) col("text")
        else if (!universe)
          // density mode: global canonical word order per replica — replicas
          // are distinct docs but per-key density rises (see scaladoc)
          expr(s"array_join(transform(array_sort(transform(split(text, ' '), " +
            s"w -> struct(hash(w, $r) AS h, w AS w))), p -> p.w), ' ')")
        else {
          // universe mode: letter permutation ONLY (deterministic in r) —
          // word order survives, so the char-shingle bijection carries the
          // base's near-dup pair structure into the new universe unchanged.
          // Do NOT compose with the word-shuffle: its canonical sort
          // manufactures near-dups between vocabulary-sharing docs.
          // seed salted with the SOURCE path: composing two universe runs
          // with unsalted seeds would make composed universe (a,0) and
          // (0,a) byte-identical (both = perm_a(base), since r=0 applies no
          // permutation) — planting 5k-doc exact-dup clusters across
          // universes. Distinct sources draw distinct permutation families.
          val alpha = "abcdefghijklmnopqrstuvwxyz"
          val perm = new scala.util.Random(0x5ca1eL * 31 + r + src.hashCode.toLong)
            .shuffle(alpha.toList).mkString
          translate(col("text"), alpha + alpha.toUpperCase,
            perm + perm.toUpperCase)
        }
      d.withColumn("doc_id", col("doc_id") + lit(r * dStep))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long")) }
    replicate("embeddings") { (d, r) =>
      val emb =
        if (r == 0) col("embedding")
        else expr(s"transform(embedding, (x, i) -> " +
          s"cast(x + (pmod(hash(vec_id, $r, i), 201) - 100) * cast(0.003 as float) as float))")
      d.withColumn("vec_id", col("vec_id") + lit(r * vStep))
        .withColumn("embedding", emb) }

    println(s"[scaleup] wrote $dst at ${factor}x of $src")
    s.stop()
  }
}
