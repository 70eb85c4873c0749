package gatewaybench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `stmt` is the client operation it belongs to (0 for
  * none), `parent` the enclosing span on the same thread (0 for a root). */
final case class Span(id: Long, parent: Long, stmt: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"parent":$parent,"stmt":$stmt,"name":"$name","start_ns":$startNs,"end_ns":$endNs}"""
}

/** In-memory span recorder. Disabled, [[span]] only runs its body, so an
  * untraced run pays for nothing but the call. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[A](name: String, stmt: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        spans.add(Span(id, parent, stmt, name, t0, t1))
      }
    }

  /** A span measured elsewhere (listener phases, streaming progress). */
  def record(name: String, stmt: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, stmt, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Spark-side counters for the measured window, from a SparkListener and a
  * QueryExecutionListener the benchmark registers in traced runs. Jobs carry
  * the client operation id through the local property [[Listeners.StmtKey]]
  * set on the client thread; jobs without it (streaming micro-batches) count
  * under statement 0. Only events inside the window are counted. */
final class Listeners extends SparkListener with QueryExecutionListener {
  @volatile var windowStartMs = Long.MaxValue
  @volatile var windowEndMs = Long.MaxValue
  private def inWindow(ms: Long) = ms >= windowStartMs && ms <= windowEndMs

  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val taskMs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleRead = new AtomicLong()
  val shuffleWrite = new AtomicLong()
  val spill = new AtomicLong()
  val inputRows = new AtomicLong()
  /** stage id → task run times, for the per-stage skew */
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  /** job id → (statement, start ms) */
  private val jobStmt = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  /** statement → summed job wall ms */
  val jobWallByStmt = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
  /** query-planning phases, per executed query */
  val phases = new ConcurrentLinkedQueue[(String, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stmt = Option(e.properties).flatMap(p => Option(p.getProperty(Listeners.StmtKey)))
      .map(_.toLong).getOrElse(0L)
    jobStmt.put(e.jobId, (stmt, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStmt.remove(e.jobId)).foreach { case (stmt, start) =>
      if (inWindow(start)) {
        jobs.incrementAndGet()
        jobWallByStmt.merge(stmt, (e.time - start).toDouble, (a, b) => a + b)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.completionTime.exists(inWindow)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && inWindow(e.taskInfo.finishTime)) {
      tasks.incrementAndGet()
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      if (inWindow(s.endTimeMs)) phases.add(phase -> (s.endTimeMs - s.startTimeMs).toDouble)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** max/median task time per stage, for stages with at least two tasks */
  def stageSkews: Seq[Double] = stageTasks.values().asScala.toSeq.flatMap { q =>
    val ts = q.asScala.toSeq.sorted
    if (ts.size < 2) None
    else {
      val med = ts(ts.size / 2).toDouble
      Some(if (med <= 0) ts.last.toDouble.max(1.0) else ts.last / med)
    }
  }
}

object Listeners {
  val StmtKey = "gatewaybench.stmt"
}
