package graft.engine

import org.apache.spark.sql.SparkSession

/** Library entry point and the engine's one session factory: a SparkSession
  * configured the way the engine expects (UTC wall-clock semantics, AQE with
  * skew handling, sane local shuffle width, `file:` paths on the fork-free
  * local filesystem, one artifact state for every session) and prepared by
  * [[prepare]]. Every session the engine hands out is prepared: `create`
  * runs `prepare` on the root session and each `Gateway` on one template
  * session that `Gateway.openSession` clones, because
  * `SparkSession.newSession()` starts with an empty function registry and
  * no extra optimizer rules. A user of the reference toolkit starts here:
  *
  * {{{
  * val spark = GraftSession.create()
  * // or: GraftSession.prepare(GraftSession.configure(builder).getOrCreate())
  * val gw = new Gateway(spark)
  * val session = gw.openSession("default")
  * gw.executeScript(session, "CREATE TABLE t (...) WITH (...); SELECT ...")
  * }}}
  *
  * `configure` also installs the [[CatalogRelations]] analyzer rule, which
  * every session inherits through the builder's extensions, `newSession()`
  * ones included: a name Spark cannot resolve that names a connector binding
  * or a catalog view resolves to it at analysis time, so every session sees
  * the whole shared registry and holds no copy of it.
  *
  * Without libhadoop, Hadoop's stock local filesystem forks `chmod` and
  * `readlink` processes for every file create, mkdir and checkpoint rename,
  * about five per atomic checkpoint or state-store write, enough to dominate
  * a streaming micro-batch. `configure` therefore routes `file:` through
  * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]] (both Hadoop APIs),
  * which give the same results in-process. A streaming SELECT drains each
  * micro-batch in one job and keeps the first ring-buffer `capacity` rows of
  * an oversized batch (see `Gateway`).
  *
  * Spark's per-session artifact isolation is off. With it on, every session
  * (each gateway session, and the clone Structured Streaming makes for each
  * query) gets its own artifact state, so executors load its classes
  * through a class loader of its own, and the generated-code cache, keyed by
  * class loader, starts empty: every new session recompiled every
  * whole-stage class it ran. Off, all sessions share one artifact state, one
  * executor class loader and one compiled-code cache. Nothing in the engine
  * needs a class loader per session. `ADD JAR` is not session-scoped either
  * way: the jar joins the class loader all sessions share and the shared
  * SparkContext, so in local mode it is loadable in every gateway session
  * with isolation on or off, and `SHOW JARS` lists every session's jars.
  * Flink scopes `ADD JAR` to its session; this engine does not.
  *
  * `configure` also installs [[graft.plans.ParameterizeLiterals]] as a
  * columnar pre-transition rule, so it sees every final physical plan (AQE
  * stages, plans without AQE, streaming micro-batches) just before
  * whole-stage code generation. A notebook client keeps sending statements
  * that differ only in their constants, and Spark pastes numeric and
  * temporal literal values (integral, float/double, date, timestamp,
  * timestamp_ntz, time, ANSI intervals) into the generated Java source,
  * which is also the key of its compiled-class cache: every new constant
  * compiled new classes, once on the driver and once more in the task,
  * whose class loader is part of the key. The rule rewrites those literals
  * in Filter, Project, HashAggregate and Expand into values read once, per
  * class instance, from the class's `references` into a primitive field,
  * as Spark already does for string and decimal literals, so a statement
  * shape compiles once. Scans and their pushed filters, window frames and
  * limits keep their literals. `EXPLAIN` prints the same text;
  * `EXPLAIN CODEGEN` shows `references[...]` reads where the values were.
  *
  * `create` caps what Spark's status store keeps for the UI (turned off):
  * by default it holds up to 1,000 finished SQL executions, jobs and stages,
  * each execution with its formatted plan, and nothing in the engine reads
  * them.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = ForkFreeLocalFs.hadoopConf
    .foldLeft(b) { case (b0, (k, v)) => b0.config(s"spark.hadoop.$k", v) }
    .withExtensions { e =>
      e.injectResolutionRule(new CatalogRelations(_))
      e.injectColumnar(_ => graft.plans.ParameterizeLiterals)
    }
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Flink TIMESTAMP(p) is wall-clock: surface parquet timestamps as NTZ
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session (tests, tools, single node). Other `spark.*` settings
    * reach the context as JVM system properties, which `SparkConf` reads.
    * Cluster deployments pass their own master/resource config through
    * `configure` and then call [[prepare]]. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    prepare(configure(SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .config("spark.ui.retainedJobs", RetainedJobsAndStages.toString)
      .config("spark.ui.retainedStages", RetainedJobsAndStages.toString))
      .getOrCreate())

  /** How many finished SQL executions, and jobs and stages, Spark's status
    * store keeps for the (disabled) UI; nothing in the engine reads them. */
  private[graft] val RetainedExecutions = 20
  private val RetainedJobsAndStages = 50

  /** Per-session setup, the one place it runs: the Flink-dialect functions,
    * the `dsum4` aggregate and the two-phase CUMULATE optimizer rule.
    * Idempotent per session; a clone of a prepared session is prepared. */
  def prepare(spark: SparkSession): SparkSession = {
    if (!graft.functions.FlinkFunctions.registeredIn(spark))
      graft.functions.FlinkFunctions.registerAll(spark)
    graft.functions.Aggregators.registerAll(spark)
    graft.plans.CumulateTwoPhase.install(spark)
    spark
  }
}
