package graft.engine

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way the engine expects
  * (UTC wall-clock semantics, AQE with skew handling, sane local shuffle
  * width, `file:` paths on the fork-free local filesystem) with every
  * Flink-dialect function registered. A user of the reference toolkit
  * starts here:
  *
  * {{{
  * val spark = GraftSession.create()        // or .configure(existingBuilder)
  * val gw = new Gateway(spark)
  * val session = gw.openSession("default")
  * gw.executeScript(session, "CREATE TABLE t (...) WITH (...); SELECT ...")
  * }}}
  *
  * Without libhadoop, Hadoop's stock local filesystem forks `chmod` and
  * `readlink` processes for every file create, mkdir and checkpoint rename,
  * about five per atomic checkpoint or state-store write, enough to dominate
  * a streaming micro-batch. `configure` therefore routes `file:` through
  * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]] (both Hadoop APIs),
  * which give the same results in-process. A streaming SELECT drains each
  * micro-batch in one job and keeps the first ring-buffer `capacity` rows of
  * an oversized batch (see `Gateway`).
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = ForkFreeLocalFs.hadoopConf
    .foldLeft(b) { case (b0, (k, v)) => b0.config(s"spark.hadoop.$k", v) }
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Flink TIMESTAMP(p) is wall-clock: surface parquet timestamps as NTZ
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session (tests / single node). Cluster deployments pass their own
    * master/resource config through `configure`. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = configure(SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    graft.functions.FlinkFunctions.registerAll(spark)
    graft.functions.Aggregators.registerAll(spark)
    graft.plans.CumulateTwoPhase.install(spark)
    spark
  }
}
