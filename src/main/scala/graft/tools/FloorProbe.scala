package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, expr, lit}

/** r20 (verdict #5): attribute the ~0.25 s/query session floor that caps
  * what the sf0.1 bench can show and flattens the low/high-core scaling
  * probe. For a ladder of query shapes — constant-folding-proof local
  * relation, parquet footer count, small real gates — measure, per shape:
  *
  *   forced  = the Bench headline reduction (count + bit_xor(xxhash64(
  *             cast-every-column-to-string)))
  *   noop    = df.write.format("noop") (full evaluation, no reduction —
  *             guide §1.4's preferred instrument)
  *   bare    = df.count() (the legacy series' forcing)
  *
  * each best-of-3 on a FRESH logical plan (literal salt) and once more on a
  * REPEATED plan (codegen/plan-cache warm), so the artifact separates:
  * plan-analysis+codegen cost (fresh - repeated), the reduction's own cost
  * (forced - noop), and scheduling floor (repeated noop of a 1-row local
  * relation — nothing left but job machinery).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.FloorProbe"
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM nation").collect()

    def forced(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("n"),
        expr(df.columns.map(c => s"cast(`$c` as string)")
          .mkString("bit_xor(xxhash64(", ", ", "))")).as("h")).collect()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def bare(df: DataFrame): Unit = df.count()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def best3(mk: Int => DataFrame, run: DataFrame => Unit, fresh: Boolean): Double =
      (0 until 3).map(i => time(run(mk(if (fresh) i + 1 else 0)))).min

    // shapes: salt != 0 perturbs a literal so every plan is analyzed and
    // codegen'd from scratch; salt == 0 repeats one plan (caches warm)
    val shapes: Seq[(String, Int => DataFrame)] = Seq(
      "local_1row" -> (salt => spark.range(1).selectExpr(s"id + $salt AS v")),
      "local_1row_32part" -> (salt =>
        spark.range(0, 32, 1, 32).selectExpr(s"id + $salt AS v")),
      "parquet_count_shape" -> (salt =>
        graft.Tables.load(spark, sfDir, "orders").selectExpr(s"o_orderkey + $salt AS k")),
      "gate_fn_string" -> (salt =>
        graft.SparkEntry.queries("q_fn_string")(spark, sfDir)
          .selectExpr("*", s"$salt AS __salt")),
      "gate_over_lag_lead" -> (salt =>
        graft.SparkEntry.queries("q_over_lag_lead")(spark, sfDir)
          .selectExpr("*", s"$salt AS __salt")),
      "gate_agg_pricing" -> (salt =>
        graft.SparkEntry.queries("q_agg_pricing_summary")(spark, sfDir)
          .selectExpr("*", s"$salt AS __salt")))

    println(f"[floor] ${"shape"}%-22s ${"forced_fresh"}%13s ${"forced_rep"}%11s ${"noop_fresh"}%11s ${"noop_rep"}%9s ${"bare_rep"}%9s")
    shapes.foreach { case (name, mk) =>
      // warm one evaluation so first-ever scan/codegen of the gate is not
      // charged to the fresh column (Bench's session warmup plays this role)
      bare(mk(99))
      val ff = best3(mk, forced, fresh = true)
      val fr = best3(mk, forced, fresh = false)
      val nf = best3(mk, noop, fresh = true)
      val nr = best3(mk, noop, fresh = false)
      val br = best3(mk, bare, fresh = false)
      println(f"[floor] $name%-22s $ff%13.3f $fr%11.3f $nf%11.3f $nr%9.3f $br%9.3f")
    }
    spark.stop()
  }
}
