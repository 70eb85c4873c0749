package graft.engine

import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** SQL-gateway lifecycle: sessions → statements → token-paged results — the
  * contract the reference client drives over REST (SURVEY.md §3.1;
  * src/flinkClient.ts:127-171, src/notebookController.ts:123-294,
  * src/sessionManager.ts:257-288).
  *
  * Semantics reproduced:
  *  - named sessions with isolated conf/temp views (`SparkSession.newSession`),
  *    current-database state, and auto-recovery (`getOrRecreate`);
  *  - statement execution returns an operation handle; results are fetched
  *    page-by-token ({rows, nextToken, eos} — flinkClient.ts:154-172);
  *  - streaming queries feed a bounded ring buffer with drop-oldest + running
  *    offset, exactly the reference's 1000-row client buffer
  *    (notebookController.ts:256-264);
  *  - statement routing: CREATE TABLE WITH → TableEnv; SET/RESET → conf;
  *    SHOW JOBS / STOP JOB → Jobs; BEGIN STATEMENT SET → grouped inserts;
  *    MATCH_RECOGNIZE → CEP operator; everything else → FlinkDialect rewrite
  *    + Catalyst.
  */
class Gateway(root: SparkSession) {

  // binding re-materializations (rename/ALTER/DML rebinds) must not clobber
  // a session's temp-view/temp-table shadow — shadow knowledge (scope map +
  // plain-relation registry) lives in the shared TableEnv, keyed per session
  // SparkSession, so it is exact across CONCURRENT gateway instances (r15
  // ADVICE: the per-gateway probe hook meant the latest-constructed gateway
  // owned it, reintroducing the clobber across instances)

  final class Session(val handle: String, val spark: SparkSession) {
    var alive = true
  }

  sealed trait OpResult
  final case class Finished(df: DataFrame) extends OpResult
  /** small, already-materialized result (cached metadata) */
  final case class Rows(columns: Seq[String], rows: Seq[Seq[Any]]) extends OpResult
  final case class StreamingOp(jobName: String, buffer: RingBuffer, cols: Seq[String]) extends OpResult
  final case class Statement(message: String) extends OpResult
  /** failed statement with the extracted root cause (flinkClient.ts:78-125) */
  final case class Failed(error: String) extends OpResult

  /** Drop-oldest bounded buffer with running offset (ref buffer semantics). */
  final class RingBuffer(val capacity: Int = 1000) {
    private val buf = ArrayBuffer.empty[Row]
    private var offset0 = 0L
    def append(rows: Seq[Row]): Unit = synchronized {
      buf ++= rows
      val over = buf.length - capacity
      if (over > 0) { buf.remove(0, over); offset0 += over }
    }
    def snapshot: (Long, Seq[Row]) = synchronized { (offset0, buf.toSeq) }
  }

  final class Operation(val handle: String, val result: OpResult,
      val session: String = "") {
    // Lazily-paged batch result: rows are pulled from `toLocalIterator` one
    // partition at a time as the client walks tokens — the driver never holds
    // more than the retention window of pages, no matter how large the
    // result (the reference's token paging exists for exactly this;
    // flinkClient.ts:154-172).
    private[Gateway] var iter: Iterator[Row] = _
    private[Gateway] var nextPageIdx = 0
    /** total page count, once the iterator has been exhausted */
    private[Gateway] var pageCount: Option[Int] = None
    /** trailing window of materialized pages (idempotent re-fetch/retry) */
    private[Gateway] val cache = scala.collection.mutable.LinkedHashMap.empty[Int, Seq[Seq[Any]]]
    /** estimated heap bytes retained by this handle (cached pages + an
      * eagerly-materialized Rows result) — feeds the per-session byte cap */
    @volatile private[Gateway] var retainedBytes: Long = result match {
      case Rows(_, rows) => estimateBytes(rows)
      case _ => 0L
    }
  }

  /** Cheap per-cell heap estimate for retained result rows: strings by
    * length, everything else a boxed-word constant. Exactness doesn't
    * matter — the cap needs the right order of magnitude. */
  private def estimateBytes(rows: Seq[Seq[Any]]): Long = {
    var total = 0L
    rows.foreach { r =>
      total += 40L
      r.foreach {
        case s: String => total += 48L + 2L * s.length
        case b: Array[Byte] => total += 32L + b.length
        case _ => total += 24L
      }
    }
    total
  }

  /** Test hook: live operations in the registry (the abandoned-op
    * retention spec asserts this stays bounded under churn and empties on
    * closeSession). */
  private[graft] def liveOperationCount: Int = operations.size

  /** Test hook: (pages materialized so far, cached-page count, known total
    * page count). A bounded-memory paging spec asserts the iterator has NOT
    * been drained after early fetches — pageCount still None, cache within
    * the retention window. */
  private[graft] def opDiagnostics(opHandle: String): (Int, Int, Option[Int]) = {
    val op = operations(opHandle)
    op.synchronized((op.nextPageIdx, op.cache.size, op.pageCount))
  }

  private val sessions = TrieMap.empty[String, Session]
  private val operations = TrieMap.empty[String, Operation]
  /** per-session FIFO of issued op handles, for abandoned-op retention
    * (see executeStatement) and closeSession purge */
  private val sessionOps =
    TrieMap.empty[String, java.util.concurrent.ConcurrentLinkedQueue[String]]
  /** completed non-streaming operations retained per session before the
    * oldest is auto-closed; a client that closeOperation()s promptly never
    * notices (Flink's gateway expires idle operations the same way) */
  val maxOpsPerSession = 512
  val pageSize = 1000
  /** Per-session cap on ESTIMATED retained result bytes (r14): the
    * 512-handle FIFO is count-based, so a few huge cached results could
    * dodge it — the churn probe that sized the FIFO used tiny statements.
    * Over the cap, the oldest completed non-streaming handles close first,
    * always sparing the handle currently being served. */
  val maxRetainedBytesPerSession: Long = 64L * 1024 * 1024

  /** Test hook: estimated retained result bytes across a session's live
    * handles. */
  private[graft] def sessionRetainedBytes(sessionHandle: String): Long = {
    var t = 0L
    sessionOps.get(sessionHandle).foreach(_.forEach(h =>
      operations.get(h).foreach(t += _.retainedBytes)))
    t
  }

  private def enforceSessionBytes(sessionHandle: String, keep: String): Unit =
    sessionOps.get(sessionHandle).foreach { q =>
      var total = sessionRetainedBytes(sessionHandle)
      if (total > maxRetainedBytesPerSession) {
        val it = q.iterator()
        while (total > maxRetainedBytesPerSession && it.hasNext) {
          val h = it.next()
          if (h != keep) operations.get(h) match {
            case Some(o) if !o.result.isInstanceOf[StreamingOp] =>
              it.remove(); total -= o.retainedBytes; closeOperation(h)
            case Some(_) => () // streaming handles fall with closeSession
            case None => it.remove() // already client-closed
          }
        }
      }
    }

  /** metadata TTL cache + in-flight dedup (catalogProvider.ts:22-26,349-377);
    * keyed per session (temp views differ across sessions). */
  val metaCache = new MetaCache[(Seq[String], Seq[Seq[Any]])]()
  private val MetaStmtRe =
    """(?is)^(SHOW\s+(TABLES|DATABASES|VIEWS|FUNCTIONS|CATALOGS|COLUMNS|PARTITIONS)\b.*|(?:DESCRIBE|DESC)\s+.*)$""".r
  // LOAD/UNLOAD MODULE change what SHOW FUNCTIONS returns — without them
  // here a cached function list would stay stale for the TTL window after
  // the registry actually changed (USE MODULES is already covered by USE)
  private val MutatingRe =
    """(?is)^\s*(CREATE|DROP|ALTER|USE|INSERT|TRUNCATE|UPDATE|DELETE|MERGE|LOAD\s+MODULE|UNLOAD\s+MODULE)\b.*""".r

  // ------------------------------------------------------------- sessions --

  def openSession(name: String = "default"): String = {
    val handle = s"$name-${UUID.randomUUID()}"
    val s = root.newSession()
    // newSession() isolates the function registry along with conf/temp views
    // — re-register the Flink-dialect functions so every gateway session
    // speaks the full surface
    graft.functions.FlinkFunctions.registerAll(s)
    graft.functions.Aggregators.registerAll(s)
    // 1-row scratch relation (the corpus SELECTs FROM dual, Oracle-style)
    try s.sql("CREATE OR REPLACE TEMPORARY VIEW dual AS SELECT 1 AS dummy")
    catch { case _: Exception => () }
    sessions.put(handle, new Session(handle, s))
    TableEnv.registerSession(s) // cross-instance invalidation sweeps reach it
    handle
  }

  def closeSession(handle: String): Unit = {
    // ORDER MATTERS: the handle must leave `sessions` BEFORE the sessionOps
    // purge. executeStatement registers its op (resurrecting the queue via
    // getOrElseUpdate) and then re-checks sessions.contains — with the old
    // order (ops purged first) a statement racing between the two removals
    // resurrected the queue while the re-check still saw the session live,
    // leaking the op + queue permanently.
    val removed = sessions.remove(handle)
    // release every operation the session issued (streaming handles too —
    // the JOBS keep running per Flink semantics and stay visible/stoppable
    // via the cross-session jobs registry; only the result handles die)
    sessionOps.remove(handle).foreach { q =>
      q.forEach(h => if (operations.contains(h)) closeOperation(h))
    }
    removed.foreach { s =>
      s.alive = false
      sessionModules.remove(s.spark)
      // purge this session's temp-view definitions and materialization
      // cache with its scope — the UUID is unreachable after removal, so
      // without this a long-lived gateway accumulates dead entries forever
      TableEnv.releaseScope(s.spark).foreach { scope =>
        TableEnv.dropScope(scope) // purges view defs + plain relations
        materializedViews.keys.filter(_._1 == scope)
          .foreach(materializedViews.remove)
      }
    }
    metaCache.invalidatePrefix(s"$handle::")
  }

  def session(handle: String): Session =
    sessions.getOrElse(handle, throw new IllegalStateException(
      s"Session does not exist: $handle"))

  /** The reference's auto-recovery: invalid handle → new 'default' session
    * (sessionManager.ts:257-288). Returns (possibly new) handle. */
  def getOrRecreate(handle: String): String =
    if (sessions.contains(handle)) handle else openSession("default")

  // ----------------------------------------------------------- statements --

  private val SetRe = """(?is)SET\s+'?([\w.\-]+)'?\s*=\s*'?([^';]*)'?\s*;?""".r
  private val ResetRe = """(?is)RESET\s+'?([\w.\-]+)'?\s*;?""".r
  private val StopJobRe = """(?is)STOP\s+JOB\s+'([^']+)'(\s+WITH\s+(SAVEPOINT|DRAIN))?\s*;?""".r
  private val InsertIntoRe = """(?is)INSERT\s+INTO\s+([\w.`]+)\s+(SELECT.*)""".r
  private val InsertOverwriteRe = """(?is)INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.`]+)\s+(SELECT.*)""".r
  // the remaining Flink INSERT forms (corpus syntax-test.fsql:176-177): an
  // explicit column list and/or a VALUES body
  private val InsertColsRe =
    """(?is)INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.`]+)\s*(?:\(([^)]+)\)\s*)?((?:SELECT|VALUES).*)""".r
  private val ShowCreateRe = """(?is)SHOW\s+CREATE\s+TABLE\s+([\w.`]+)""".r
  private val DescribeRe = """(?is)(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?([\w.`]+)""".r
  private val CreateViewRe =
    """(?is)CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+AS\s+(.*)""".r
  private val ShowCreateViewRe = """(?is)SHOW\s+CREATE\s+VIEW\s+([\w.`]+)""".r
  private val DropViewRe = """(?is)DROP\s+(TEMPORARY\s+)?VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+)""".r
  private val DropTableRe = """(?is)DROP\s+(TEMPORARY\s+)?TABLE\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*$""".r
  private val CreateTableNameRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+)""".r
  private val CreateTempTableNameRe =
    """(?is)^\s*CREATE\s+TEMPORARY\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+)""".r
  private val UpdateRe = """(?is)^UPDATE\s+([\w.`]+)\s+SET\s+(.*)$""".r

  /** Split "assignments [WHERE predicate]" at the top-level WHERE — never
    * inside a string literal or parentheses (a subquery's WHERE stays put). */
  private def splitSetWhere(rest: String): (String, Option[String]) = {
    var depth = 0
    var i = 0
    while (i < rest.length) {
      rest.charAt(i) match {
        case '\'' =>
          i += 1
          while (i < rest.length && rest.charAt(i) != '\'') i += 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if depth == 0 && (c == 'W' || c == 'w') &&
            rest.regionMatches(true, i, "WHERE", 0, 5) &&
            (i == 0 || !Character.isLetterOrDigit(rest.charAt(i - 1)) && rest.charAt(i - 1) != '_') &&
            (i + 5 >= rest.length || !Character.isLetterOrDigit(rest.charAt(i + 5)) && rest.charAt(i + 5) != '_') =>
          return (rest.substring(0, i).trim, Some(rest.substring(i + 5).trim))
        case _ => ()
      }
      i += 1
    }
    (rest.trim, None)
  }
  private val DeleteRe = """(?is)^DELETE\s+FROM\s+([\w.`]+)(?:\s+WHERE\s+(.*))?$""".r
  private val MergeRe =
    """(?is)^MERGE\s+INTO\s+([\w.`]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+([\w.`]+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.*)$""".r
  private val MergeUpdateRe = """(?is)^UPDATE\s+SET\s+(.*)$""".r
  private val MergeInsertRe = """(?is)^INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.*)\)\s*$""".r
  private val MergeClauseHeadRe = """(?is)^(NOT\s+)?MATCHED\s*(.*)$""".r

  /** Split "ON cond WHEN … WHEN …" at top-level WHEN keywords (never inside
    * quotes/parens, so a CASE…WHEN in a predicate stays intact — CASE opens
    * no paren, but its WHEN only occurs between CASE and END, which we track). */
  private def splitMergeRest(rest: String): (String, Seq[String]) = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0; var caseDepth = 0; var i = 0
    def wordAt(j: Int, w: String): Boolean =
      rest.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !Character.isLetterOrDigit(rest.charAt(j - 1)) && rest.charAt(j - 1) != '_') &&
        (j + w.length >= rest.length ||
          !Character.isLetterOrDigit(rest.charAt(j + w.length)) && rest.charAt(j + w.length) != '_')
    while (i < rest.length) {
      rest.charAt(i) match {
        case '\'' => i += 1; while (i < rest.length && rest.charAt(i) != '\'') i += 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && wordAt(i, "CASE") => caseDepth += 1; i += 3
        case _ if depth == 0 && caseDepth > 0 && wordAt(i, "END") => caseDepth -= 1; i += 2
        case _ if depth == 0 && caseDepth == 0 && wordAt(i, "WHEN") => parts += i; i += 3
        case _ => ()
      }
      i += 1
    }
    if (parts.isEmpty) (rest.trim, Seq.empty)
    else {
      val bounds = parts.toSeq :+ rest.length
      (rest.substring(0, parts.head).trim,
        bounds.sliding(2).map { case Seq(a, b) =>
          rest.substring(a + 4, b).trim }.toSeq)
    }
  }

  /** Split "[AND cond] THEN action" at the first top-level THEN — never one
    * inside quotes/parens or a CASE…END in the predicate. */
  private def splitThen(rest: String): (Option[String], String) = {
    var depth = 0; var caseDepth = 0; var i = 0
    def wordAt(j: Int, w: String): Boolean =
      rest.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !Character.isLetterOrDigit(rest.charAt(j - 1)) && rest.charAt(j - 1) != '_') &&
        (j + w.length >= rest.length ||
          !Character.isLetterOrDigit(rest.charAt(j + w.length)) && rest.charAt(j + w.length) != '_')
    while (i < rest.length) {
      rest.charAt(i) match {
        case '\'' => i += 1; while (i < rest.length && rest.charAt(i) != '\'') i += 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && wordAt(i, "CASE") => caseDepth += 1; i += 3
        case _ if depth == 0 && caseDepth > 0 && wordAt(i, "END") => caseDepth -= 1; i += 2
        case _ if depth == 0 && caseDepth == 0 && wordAt(i, "THEN") =>
          val head = rest.substring(0, i).trim
          // anything between MATCHED and THEN must be an AND predicate —
          // reject e.g. standard-SQL 'MATCHED BY SOURCE' with a clear error
          // instead of letting junk reach expr() as a predicate
          if (head.nonEmpty && !head.toUpperCase.startsWith("AND "))
            throw new IllegalArgumentException(
              s"MERGE: expected AND <predicate> or THEN after MATCHED, got '$head'")
          val cond = if (head.isEmpty) None
            else Some(head.replaceFirst("(?is)^AND\\s+", ""))
          return (cond.filter(_.nonEmpty), rest.substring(i + 4).trim)
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(s"MERGE clause missing THEN: '$rest'")
  }

  private def parseMergeClause(s: String): TableEnv.MergeClause = s match {
    case MergeClauseHeadRe(not, rest) =>
      val (cond, action) = splitThen(rest)
      val act = action.trim match {
        case MergeUpdateRe(assigns) => TableEnv.MergeUpdate(
          FlinkDialect.splitAssignments(assigns).map { a =>
            val Array(c, e) = a.split("=", 2)
            c.trim.replace("`", "") -> FlinkDialect.rewrite(e.trim)
          })
        case a if a.equalsIgnoreCase("DELETE") => TableEnv.MergeDelete
        case MergeInsertRe(cols, values) => TableEnv.MergeInsert(
          Option(cols).map(_.split(",").map(_.trim.replace("`", "")).toSeq).getOrElse(Seq.empty),
          FlinkDialect.splitAssignments(values).map(FlinkDialect.rewrite))
        case a => throw new IllegalArgumentException(s"MERGE: unsupported action '$a'")
      }
      val matched = not == null
      // standard SQL pairing: WHEN MATCHED → UPDATE/DELETE only, WHEN NOT
      // MATCHED → INSERT only. Anything else would either MatchError deep in
      // TableEnv.merge or silently claim rows in the first-match-wins chain.
      (matched, act) match {
        case (true, _: TableEnv.MergeInsert) => throw new IllegalArgumentException(
          "MERGE: WHEN MATCHED cannot INSERT — use UPDATE or DELETE")
        case (false, _: TableEnv.MergeUpdate) | (false, TableEnv.MergeDelete) =>
          throw new IllegalArgumentException(
            "MERGE: WHEN NOT MATCHED can only INSERT")
        case _ => ()
      }
      TableEnv.MergeClause(matched, cond.map(FlinkDialect.rewrite), act)
    case _ => throw new IllegalArgumentException(s"MERGE: cannot parse clause 'WHEN $s'")
  }
  private val CompilePlanRe =
    """(?is)^COMPILE\s+PLAN\s+'([^']+)'\s+FOR\s+(.*)$""".r
  private val ExecutePlanRe = """(?is)^EXECUTE\s+PLAN\s+'([^']+)'$""".r
  private val CreateCatalogRe =
    """(?is)CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w`]+)\s+WITH\s*\((.*)\)\s*$""".r
  private val DropCatalogRe = """(?is)DROP\s+CATALOG\s+(?:IF\s+EXISTS\s+)?([\w`]+)\s*$""".r
  private val AlterCatalogRe =
    """(?is)ALTER\s+CATALOG\s+([\w`]+)\s+SET\s*\((.*)\)\s*$""".r
  private val AlterSetRe = """(?is)ALTER\s+TABLE\s+([\w.`]+)\s+SET\s*\((.*)\)\s*$""".r
  // FLIP-273 schema evolution on bindings: ADD/MODIFY/DROP of columns
  // (incl. computed/METADATA/FIRST/AFTER), WATERMARK, PRIMARY KEY
  private val AlterSchemaRe =
    """(?is)ALTER\s+TABLE\s+([\w.`]+)\s+(ADD|MODIFY|DROP)\s+(?:COLUMNS?\s+)?(.+?)\s*$""".r
  private val AlterRenameRe = """(?is)ALTER\s+TABLE\s+([\w.`]+)\s+RENAME\s+TO\s+([\w.`]+)\s*$""".r
  private val OptRe = """'([^']*)'\s*=\s*'([^']*)'""".r
  private val LoadModuleRe =
    """(?is)^LOAD\s+MODULE\s+`?(\w+)`?(?:\s+WITH\s*\(.*\))?\s*$""".r
  private val UnloadModuleRe = """(?is)^UNLOAD\s+MODULE\s+`?(\w+)`?\s*$""".r
  private val UseModulesRe = """(?is)^USE\s+MODULES\s+(.+)$""".r
  private val OptionsHintRe = """(?is)/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/""".r
  private val IfNotExistsRe = """(?i)IF\s+NOT\s+EXISTS""".r

  /** Execute one statement; returns an operation handle. */
  def executeStatement(sessionHandle: String, stmt0: String): String = {
    val sess = session(sessionHandle)
    val spark = sess.spark
    val stmt = stmt0.trim.stripSuffix(";").trim
    if (MutatingRe.pattern.matcher(stmt).matches()) metaCache.invalidateAll()
    val result =
      try routeCached(sessionHandle, spark, stmt)
      catch {
        case e: Exception => Failed(Results.rootCauseMessage(e))
        // a statement must never take the gateway down with a raw throw —
        // a pathological input that exhausts the analysis stack answers an
        // error page like any other bad statement (the stack has fully
        // unwound by the time this frame catches). Deliberately NOT a
        // blanket Throwable: OOM and friends should still crash loudly.
        case _: StackOverflowError =>
          Failed("statement too complex to analyze (stack depth exceeded)")
      }
    val op = new Operation(UUID.randomUUID().toString, result, sessionHandle)
    operations.put(op.handle, op)
    // retention: a well-behaved client closeOperation()s each handle, but
    // an abandoning one (the reference's notebook on error paths) must not
    // grow the registry without bound — ~100 KB of retained plan/page state
    // per trivial statement (r13 churn probe: 4k SELECTs leaked ~380 MB).
    // FIFO-evict this session's oldest NON-streaming completed operations
    // over the cap; streaming handles stay (their jobs are live resources a
    // client may still be offset-fetching — they fall with closeSession,
    // the jobs themselves keep running per Flink semantics).
    val mine = sessionOps.getOrElseUpdate(sessionHandle,
      new java.util.concurrent.ConcurrentLinkedQueue[String])
    mine.add(op.handle)
    if (mine.size > maxOpsPerSession) {
      val it = mine.iterator()
      var evicted = false
      while (!evicted && it.hasNext) {
        val h = it.next()
        val streaming = operations.get(h).exists(_.result.isInstanceOf[StreamingOp])
        if (!streaming) {
          it.remove()
          if (operations.contains(h)) { closeOperation(h); evicted = true }
          // already client-closed entries just drop from the queue
        }
      }
    }
    // eagerly-materialized Rows results (metadata pages, VALUES) count
    // toward the byte cap the moment they register
    enforceSessionBytes(sessionHandle, keep = op.handle)
    // race with closeSession: if the purge ran between routing and the
    // registry update above, this operation (and the resurrected sessionOps
    // queue) would leak forever — no later closeSession will see them.
    // Re-check and clean up on the losing side of the race.
    if (!sessions.contains(sessionHandle)) {
      sessionOps.remove(sessionHandle)
        .foreach(_.forEach(h => if (operations.contains(h)) closeOperation(h)))
      if (operations.contains(op.handle)) closeOperation(op.handle)
    }
    op.handle
  }

  /** Execute a whole script (splitting, STATEMENT SET handling). */
  def executeScript(sessionHandle: String, script: String): Seq[String] =
    FlinkDialect.split(script).map(executeStatement(sessionHandle, _))

  /** Metadata statements fetch through the TTL cache (dedup'd); the rest
    * route normally. Specially-shaped metadata (Flink DESCRIBE of a binding,
    * SHOW CREATE) stays uncached — it reads the live registry for free. */
  private def routeCached(sessionHandle: String, spark: SparkSession, stmt: String): OpResult =
    stmt match {
      case MetaStmtRe(_*) if !TableEnv.lookup(
          DescribeRe.findFirstMatchIn(stmt).map(_.group(1).replace("`", "")).getOrElse("")).isDefined =>
        val (cols, rows) = metaCache.getOrCompute(s"$sessionHandle::${stmt.toLowerCase}") {
          route(spark, stmt) match {
            case Finished(df) => (df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
            case Rows(c, r) => (c, r)
            case other => throw new IllegalStateException(
              s"unexpected metadata result shape: ${other.getClass.getSimpleName}")
          }
        }
        Rows(cols, rows)
      case _ => route(spark, stmt)
    }

  // ---------------------------------------------- completion resolution --

  private val RefRe =
    """(?im)(?:FROM|JOIN)\s+([`\w\-.]+)(?:\s+(?:AS\s+)?(?!ON\b|WHERE\b|GROUP\b|ORDER\b|LEFT\b|RIGHT\b|INNER\b|FULL\b|CROSS\b|JOIN\b|USING\b|LATERAL\b)([`\w\-]+))?""".r
  private def stripQ(s: String) = s.replace("`", "")

  /** Completion-metadata resolution backend. The reference resolves the
    * dot-chain CLIENT-side over per-call gateway metadata requests
    * (completionProvider.ts:107-170: `cat.` → databases, `cat.db.` →
    * tables, `alias.`/`table.` → columns via DESCRIBE, bare prefix →
    * catalogs + tables + context columns); this surfaces the same
    * resolution as one engine endpoint. Returns (label, kind) pairs,
    * kind ∈ catalog|database|table|column. Every metadata read routes
    * through the session metaCache, so a burst of completion requests
    * coalesces into one SHOW/DESCRIBE each (TTL + in-flight dedup). */
  def resolve(sessionHandle: String, linePrefix: String,
      sqlText: String = ""): Seq[(String, String)] = {
    val spark = session(sessionHandle).spark
    // the NAME column: Spark-native listings carry (namespace, tableName,
    // isTemporary) / (namespace) — prefer the *name column over position
    def firstCol(stmt: String): Seq[String] =
      try {
        val (cols, rs) = routeCached(sessionHandle, spark, stmt) match {
          case Rows(c, r) => (c, r)
          case Finished(df) => (df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
          case _ => (Nil, Nil)
        }
        val idx = cols.indexWhere(c => c.equalsIgnoreCase("tableName")
          || c.equalsIgnoreCase("namespace") && cols.size == 1
          || c.equalsIgnoreCase("databaseName"))
        rs.map(r => r(math.max(idx, 0))).filter(_ != null).map(_.toString)
      } catch { case _: Exception => Nil }
    // FROM/JOIN references with their (implicit) aliases, as the reference's
    // extractTableReferences does — fullPath kept verbatim for DESCRIBE
    val refs = RefRe.findAllMatchIn(sqlText).map { m =>
      val full = m.group(1)
      val tableName = stripQ(full.split('.').last)
      val alias = Option(m.group(2)).map(stripQ).getOrElse(tableName)
      (tableName, alias, full)
    }.toSeq
    val DoubleDot = """([`\w\-]+)\.([`\w\-]+)\.\s*$""".r
    val SingleDot = """([`\w\-]+)\.\s*$""".r
    linePrefix match {
      case DoubleDot(cat0, db0) =>
        // catalog.database. → tables IN that pair (the reference's getTables
        // resolves the qualified prefix, not the session context)
        firstCol(s"SHOW TABLES IN `${stripQ(cat0)}`.`${stripQ(db0)}`").map(_ -> "table")
      case SingleDot(id0) =>
        val id = stripQ(id0)
        val fromRefs = refs.filter(r => r._2 == id || r._1 == id).flatMap(r =>
          firstCol(s"DESCRIBE ${r._3}").map(_ -> "column"))
        val asCatalog =
          if (firstCol("SHOW CATALOGS").contains(id))
            firstCol(s"SHOW DATABASES IN `$id`").map(_ -> "database")
          else Nil
        fromRefs ++ asCatalog
      case _ =>
        firstCol("SHOW CATALOGS").map(_ -> "catalog") ++
          firstCol("SHOW TABLES").map(_ -> "table") ++
          refs.flatMap(r => firstCol(s"DESCRIBE ${r._3}").map(_ -> "column"))
    }
  }

  // -------------------------------------------------------------- modules --
  // Flink's module system scopes FUNCTION resolution (G:371 SHOW MODULES,
  // LOAD/UNLOAD MODULE, USE MODULES). The one module that concretely exists
  // here is `core` — the Flink-dialect function catalog FlinkFunctions
  // registers per session — so the registry is real, not a no-op: unloading
  // (or USE MODULES without) core drops those functions from the session
  // and a query calling SPLIT_INDEX fails to resolve until core returns.
  // `hive` (the only other stock Flink module) fails fast with its
  // missing-runtime reason, the connector posture. Keyed by the
  // SparkSession OBJECT (identity equals — SparkSession doesn't override
  // equals), not identityHashCode: hash values are not unique, and a
  // collision would silently fuse two sessions' registries. Entries are
  // dropped in closeSession so a long-lived gateway doesn't accumulate
  // dead registries.
  private val sessionModules = scala.collection.concurrent.TrieMap
    .empty[SparkSession, scala.collection.mutable.LinkedHashMap[String, Boolean]]

  private def modulesOf(spark: SparkSession) =
    sessionModules.getOrElseUpdate(spark,
      scala.collection.mutable.LinkedHashMap("core" -> true))

  /** Re-sync the session's function registry with core's used flag. */
  private def syncCoreModule(spark: SparkSession,
      mods: scala.collection.mutable.LinkedHashMap[String, Boolean]): Unit =
    if (mods.getOrElse("core", false)) graft.functions.FlinkFunctions.registerAll(spark)
    else graft.functions.FlinkFunctions.unregisterAll(spark)

  private def loadModule(spark: SparkSession, name: String): OpResult = {
    val mods = modulesOf(spark)
    if (mods.contains(name))
      throw new IllegalArgumentException(s"A module with name '$name' already exists")
    name match {
      case "core" =>
        mods.put("core", true); syncCoreModule(spark, mods)
        Statement("Module core loaded")
      case "hive" => throw new IllegalArgumentException(
        "module 'hive' needs a Hive runtime (flink-sql-connector-hive jar + " +
          "a metastore) — neither exists on this classpath")
      case other => throw new IllegalArgumentException(
        s"Could not find a module factory for '$other' — only 'core' (and, " +
          "with a Hive runtime, 'hive') exist as stock Flink modules")
    }
  }

  private def unloadModule(spark: SparkSession, name: String): OpResult = {
    val mods = modulesOf(spark)
    if (!mods.contains(name))
      throw new IllegalArgumentException(s"No module with name '$name' exists")
    mods.remove(name)
    if (name == "core") syncCoreModule(spark, mods)
    Statement(s"Module $name unloaded")
  }

  private def useModules(spark: SparkSession, names: Seq[String]): OpResult = {
    val mods = modulesOf(spark)
    val dup = names.diff(names.distinct)
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"Module '${dup.head}' appears more than once in USE MODULES")
    names.find(!mods.contains(_)).foreach(m =>
      throw new IllegalArgumentException(s"No module with name '$m' exists"))
    // USE order becomes resolution (and SHOW MODULES) order; loaded-but-
    // unlisted modules stay loaded with used=false (Flink semantics)
    val rebuilt = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    names.foreach(m => rebuilt.put(m, true))
    mods.keys.foreach(m => if (!rebuilt.contains(m)) rebuilt.put(m, false))
    mods.clear(); rebuilt.foreach { case (k, v) => mods.put(k, v) }
    syncCoreModule(spark, mods)
    Statement(s"Modules in use: ${names.mkString(", ")}")
  }

  /** TEMPORARY-view definition scope: a UUID per session SparkSession
    * OBJECT — held in the SHARED TableEnv map so concurrent gateways see
    * one consistent scope per session. Entries drop in closeSession. */
  private def viewScope(spark: SparkSession): String =
    TableEnv.sessionScope(spark)
  /** The temp-view scope id of an open session — introspection for the
    * close-purges-definitions contract (ConcurrencySpec). */
  def viewScopeOf(handle: String): String = viewScope(session(handle).spark)

  /** Catalog-table visibility across sessions (Flink semantics, r12 — the
    * streaming soak caught a control session unable to read another
    * session's sink table): CREATE TABLE registers in the SHARED registry
    * but materializes a temp view only in the creating session. Any other
    * session's first statement naming a registry binding materializes it
    * there lazily. Cost: one word-bounded scan of the (small) registry per
    * statement; catalog lookups only on a name hit. */
  private def ensureBindingsVisible(spark: SparkSession, stmt: String): Unit = {
    def exists(name: String): Boolean =
      try spark.catalog.tableExists(name) catch { case _: Exception => true }
    // a session-scoped TEMPORARY view shadows the shared object of the
    // same name — never clobber its materialization with the binding's
    def shadowed(name: String): Boolean = locallyShadowed(spark, name)
    // the statement may reach a binding INDIRECTLY through a catalog
    // view's definition ("CREATE VIEW v AS SELECT ... FROM some_table";
    // another session's "SELECT * FROM v" never names some_table) — so
    // the name scan covers the statement PLUS the transitive closure of
    // needed catalog-view definitions, or the view's materialization
    // below fails its analysis and the view is unreadable outside its
    // creating session (r12 review finding)
    val catDefs = TableEnv.catalogViews
    // the session's own TEMPORARY views join the reachability closure: a
    // statement reaches a binding through a temp-view body too, and the
    // binding must be re-materialized here even if it was re-created since
    // this session last named it (r15 fuzz find). Shadow wins on a name
    // collision, matching resolution order.
    val defs = catDefs ++ TableEnv.scopeViews(viewScope(spark))
    def namedIn(text: String): Set[String] = defs.keySet.filter(n =>
      ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(n) + "(?![\\w`])").r
        .findFirstIn(text).isDefined)
    var need = namedIn(stmt)
    var grown = true
    while (grown) {
      val more = need ++ need.flatMap(n => namedIn(defs(n)))
      grown = more.size > need.size
      need = more
    }
    val fullText = (stmt +: need.toSeq.sorted.map(defs)).mkString("\n")
    def named(name: String): Boolean =
      ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(name) + "(?![\\w`])").r
        .findFirstIn(fullText).isDefined
    TableEnv.bindings.foreach { case (name, b) =>
      if (named(name) && !shadowed(name)) {
        // filesystem bindings re-materialize on every reference: the temp
        // view captures a point-in-time file index, so a view bound before
        // (or during) a streaming INSERT would report that snapshot forever.
        // Re-binding is metadata-only (footer read), data scans stay lazy.
        if (!exists(name) || b.connector == "filesystem")
          try TableEnv.materializeDF(spark, b).foreach(_.createOrReplaceTempView(b.name))
          catch { case _: Exception => () }
      }
    }
    // shared catalog VIEWS get the same lazy visibility (Flink: catalog
    // views are cluster objects, not session objects), and refresh when
    // REDEFINED — a CREATE OR REPLACE VIEW in one session must be seen by
    // sessions that materialized the old body (temp views inline the
    // analyzed plan at creation, so staleness is invisible otherwise).
    // A view's SQL may reference other catalog views: the needed set closes
    // transitively, staleness propagates dependents-ward (a dependent's
    // materialization inlines its dependencies' plans), and re-creation
    // runs dependencies-first. The per-scope materializedViews cache skips
    // the eager re-analysis when a definition (and all its dependencies)
    // is unchanged — the common case for every later statement.
    val scope = viewScope(spark)
    val candidates = need.filter(n => !shadowed(n))
    var stale = candidates.filter(n =>
      !materializedViews.get((scope, n)).contains(defs(n)) || !exists(n))
    grown = true
    while (grown) {
      val more = stale ++ candidates.filter(n =>
        (namedIn(defs(n)) - n).intersect(stale).nonEmpty)
      grown = more.size > stale.size
      stale = more
    }
    var remaining = stale
    while (remaining.nonEmpty) {
      val ready = remaining.filter(n => (namedIn(defs(n)) - n)
        .intersect(remaining).isEmpty)
      val batch = if (ready.nonEmpty) ready else remaining // cycle: any order
      batch.toSeq.sorted.foreach { name =>
        try {
          spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$name` AS " +
            FlinkDialect.rewrite(defs(name)))
          materializedViews.put((scope, name), defs(name))
        } catch { case _: Exception => () }
      }
      remaining = remaining -- batch
    }
  }

  /** (session scope, view name) → the definition text last materialized
    * there. Purged with the scope on closeSession. */
  private val materializedViews = TrieMap.empty[(String, String), String]

  /** (session scope, name) of connector-less CREATE TEMPORARY TABLE
    * relations — the SHARED TableEnv registry (instance-independent shadow
    * knowledge): like a temporary view, a temporary table SHADOWS the
    * shared object of its name, and the per-reference binding refresh must
    * not clobber it (a filesystem binding re-materializes on EVERY
    * reference). Purged with the scope (closeSession → dropScope) and by
    * DROP TEMPORARY TABLE. */
  private def plainRelations = TableEnv.plainRelations

  /** Does `sess` hold a session-local object (temp-view definition or
    * plain temporary-table relation) shadowing `name`? Sweeps that kill a
    * shared object's materializations must spare these. */
  private def locallyShadowed(sess: SparkSession, name: String): Boolean =
    TableEnv.locallyShadowed(sess, name)

  /** Column-list / VALUES INSERT alignment (reference corpus F:176-177):
    * unnamed columns receive NULL; everything realigns to the declared
    * schema by name and type before the write — the parquet writer records
    * the frame's column NAMES, so an unaligned col1/col2 VALUES frame would
    * corrupt the table for later reads. Shared by the execute route AND the
    * statement-set pre-compile, so a set member with a bad column list or
    * arity fails the WHOLE set before any sibling runs (r15 ADVICE: the
    * pre-compile analyzed only the SELECT body for this form). */
  private def alignColsInsert(spark: SparkSession, b: TableEnv.Binding,
      colList: String, body: String): DataFrame = {
    val df0 = spark.sql(FlinkDialect.rewrite(body))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)
    import org.apache.spark.sql.functions.{col, lit}
    val declared = Option(colList).map(_.split(",").toSeq
      .map(_.trim.replace("`", "")).filter(_.nonEmpty)).getOrElse(Nil)
    if (declared.isEmpty) TableEnv.alignInsert(b, df0)
    else {
      require(df0.columns.length == declared.length,
        s"INSERT into ${b.name}: ${df0.columns.length} values for " +
          s"${declared.length} named columns")
      // a column name outside the schema (or listed twice) would
      // silently discard its value through the byName mapping
      val schemaNames = schema.map(_.name.toLowerCase).toSet
      val unknown = declared.filterNot(d => schemaNames(d.toLowerCase))
      require(unknown.isEmpty,
        s"INSERT into ${b.name}: unknown column(s) ${unknown.mkString(", ")}")
      require(declared.map(_.toLowerCase).distinct.size == declared.size,
        s"INSERT into ${b.name}: duplicate column in the column list")
      val byName = declared.map(_.toLowerCase).zip(df0.columns).toMap
      df0.select(schema.map { f =>
        byName.get(f.name.toLowerCase)
          .map(c => col(c).cast(f.dataType).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }: _*)
    }
  }

  /** Namespace-claiming DDL — serialized under one lock: every claim is a
    * check-then-act over TWO registries (bindings + view definitions), so
    * cross-kind races (CREATE TABLE t vs CREATE VIEW t) and view-view
    * races could otherwise both pass their checks and leave two objects
    * under one name. The lock covers only control-plane DDL — queries,
    * INSERT jobs, and fetches never take it. Statement-set recursion
    * re-enters the monitor on the same thread (reentrant). */
  private val NamespaceDdlRe =
    """(?is)^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?(?:TABLE|VIEW)|DROP\s+(?:TEMPORARY\s+)?(?:TABLE|VIEW)|ALTER\s+TABLE)\b.*""".r

  private def route(spark: SparkSession, stmt: String): OpResult =
    if (NamespaceDdlRe.pattern.matcher(stmt).matches())
      TableEnv.ddlLock.synchronized(route0(spark, stmt))
    else route0(spark, stmt)

  private def route0(spark: SparkSession, stmt: String): OpResult = {
    ensureBindingsVisible(spark, stmt)
    val upper = stmt.toUpperCase
    stmt match {
      case s if TableEnv.isCreateTableWith(s) &&
          CreateTempTableNameRe.findFirstMatchIn(s).exists(m =>
            locallyShadowed(spark, m.group(1).replace("`", ""))) =>
        // CREATE TEMPORARY TABLE ... WITH when this session's temporary
        // namespace already holds the name (a plain relation or a temp
        // view): one session namespace, Flink's conflict rules
        val n = CreateTempTableNameRe.findFirstMatchIn(s).get
          .group(1).replace("`", "").toLowerCase
        if (IfNotExistsRe.findFirstIn(s).isDefined)
          Statement(s"Table $n already exists (no-op)")
        else throw new IllegalArgumentException(
          s"A temporary object '$n' already exists in this session — drop it first")
      case s if TableEnv.isCreateTableWith(s) && upper.contains("WITH") =>
        // a same-named session temporary table (plain relation, no SQL
        // definition to re-run) must survive the binding's rebind — save
        // its DataFrame and re-register it after
        val plainShadow = CreateTableNameRe.findFirstMatchIn(s)
          .map(_.group(1).replace("`", "").toLowerCase)
          .filter(n => plainRelations.contains((viewScope(spark), n)))
          .flatMap(n => try Some((n, spark.table(n))) catch { case _: Exception => None })
        val b = TableEnv.createTable(spark, s)
        plainShadow.foreach { case (n, df) =>
          try df.createOrReplaceTempView(n) catch { case _: Exception => () }
        }
        // createTable rebinds the materialization in THIS session — if this
        // session holds a same-named temporary VIEW, the shadow must keep
        // winning locally (temp objects shadow catalog objects), so restore
        // its materialization over the binding's
        if (TableEnv.viewDefExact(b.name, viewScope(spark)).isDefined)
          TableEnv.viewMatSql(b.name, viewScope(spark)).foreach { sql =>
            try spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `${b.name}` AS " +
              FlinkDialect.rewrite(sql))
            catch { case _: Exception => () }
          }
        // IF NOT EXISTS over an existing catalog VIEW no-ops inside
        // createTable without registering — don't claim a creation
        if (TableEnv.lookup(b.name).isEmpty)
          Statement(s"A view named ${b.name} already exists (no-op)")
        else Statement(s"Table ${b.name} created (connector=${b.connector})")
      case s if TableEnv.isCreateTableWith(s) =>
        // CREATE TABLE without a connector: translate the Flink types
        // (ROW<>/MULTISET<>/TIMESTAMP(p)/...) to Spark DDL. TEMPORARY lands
        // as a session view over an empty typed relation (Spark has no temp
        // tables); IF NOT EXISTS and dotted names survive. Computed/PK/
        // watermark clauses are reported as dropped, not silently lost.
        val b = TableEnv.parseCreateTable(s)
        val dropped =
          (if (b.cols.exists(_.computed.isDefined)) Seq("computed columns") else Nil) ++
            (if (b.primaryKey.nonEmpty) Seq("PRIMARY KEY") else Nil) ++
            (if (b.watermark.isDefined) Seq("WATERMARK") else Nil)
        val note = if (dropped.isEmpty) "" else s" (${dropped.mkString(", ")} not supported on plain tables)"
        if (b.temporary) {
          val rel = b.name.split("\\.").last.toLowerCase
          // Flink conflict semantics for the session temporary namespace
          // (one namespace for temp tables AND temp views): plain
          // re-CREATE refuses, IF NOT EXISTS no-ops
          if (plainRelations.contains((viewScope(spark), rel)) ||
              TableEnv.viewDefExact(rel, viewScope(spark)).isDefined ||
              TableEnv.lookup(rel).exists(_.temporary)) {
            if (IfNotExistsRe.findFirstIn(s).isDefined)
              Statement(s"Table $rel already exists (no-op)")
            else throw new IllegalArgumentException(
              s"A temporary object '$rel' already exists in this session — " +
                "drop it first")
          } else {
            val schema = org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)
            spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
              .createOrReplaceTempView(rel)
            plainRelations.put((viewScope(spark), rel), ())
            Statement(s"Temporary table ${b.name} created (empty typed relation)$note")
          }
        } else {
          val ine = if (IfNotExistsRe.findFirstIn(s).isDefined) "IF NOT EXISTS " else ""
          val qname = b.name.split("\\.").map(part => s"`$part`").mkString(".")
          spark.sql(s"CREATE TABLE $ine$qname (${b.schemaDdl})")
          Statement(s"Table ${b.name} created (catalog table)$note")
        }
      case SetRe(k, v) =>
        spark.conf.set(translateConf(k), v)
        Statement(s"$k=$v")
      case ResetRe(k) =>
        spark.conf.unset(translateConf(k))
        Statement(s"reset $k")
      case StopJobRe(id, _, _) =>
        if (Jobs.stop(id)) Statement(s"Job $id stopped")
        else Statement(s"Job $id not found")
      case _ if upper == "SHOW JOBS" =>
        Finished(Jobs.showJobs(spark))
      // the reference's cluster-overview / task-managers panels are REST
      // calls (taskManagersProvider.ts:84-193); surfaced here as metadata
      // statements over sc.statusTracker
      case _ if upper == "SHOW CLUSTER OVERVIEW" =>
        Finished(Jobs.clusterOverview(spark))
      case _ if upper == "SHOW TASK MANAGERS" =>
        Finished(Jobs.showTaskManagers(spark))
      case s if upper.startsWith("EXPLAIN CHANGELOG_MODE") =>
        // report the changelog mode of the query (F:537): bounded queries are
        // one-shot; streaming projections append; unwatermarked streaming
        // aggregations retract/update
        val df = spark.sql(FlinkDialect.rewrite(s.substring("EXPLAIN CHANGELOG_MODE".length)))
        val mode =
          if (!df.isStreaming) "BOUNDED (batch result, no changelog)"
          else if (df.queryExecution.analyzed.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
          }.isDefined) "UPDATE (retract stream: aggregated rows are re-emitted)"
          else "APPEND (insert-only stream)"
        Statement(s"CHANGELOG_MODE: $mode")
      case _ if upper == "SHOW CURRENT CATALOG" =>
        Rows(Seq("catalog"), Seq(Seq(spark.catalog.currentCatalog())))
      case _ if upper == "SHOW CURRENT DATABASE" =>
        Rows(Seq("database"), Seq(Seq(spark.catalog.currentDatabase)))
      case _ if upper == "SHOW JARS" =>
        { import spark.implicits._
          Finished(spark.sparkContext.listJars().toSeq.toDF("jar")) }
      case _ if upper == "SHOW MODULES" =>
        Rows(Seq("module name"),
          modulesOf(spark).collect { case (m, true) => Seq[Any](m) }.toSeq)
      case _ if upper == "SHOW FULL MODULES" =>
        Rows(Seq("module name", "used"),
          modulesOf(spark).map { case (m, u) => Seq[Any](m, u) }.toSeq)
      case LoadModuleRe(name) => loadModule(spark, name.toLowerCase)
      case UnloadModuleRe(name) => unloadModule(spark, name.toLowerCase)
      case UseModulesRe(list) => useModules(spark,
        list.split(",").map(_.trim.replace("`", "").toLowerCase).toSeq)
      case _ if upper.startsWith("REMOVE JAR") =>
        Statement("REMOVE JAR is unsupported — a Spark session cannot unload a jar once added")
      case s if upper.startsWith("USE CATALOG ") =>
        spark.sql("SET CATALOG " + s.substring("USE CATALOG ".length))
        Statement(s"Catalog switched")
      case CreateCatalogRe(name0, optStr) =>
        // CREATE CATALOG (F:551, G:371): catalogs register as Spark
        // CatalogPlugins. 'jdbc' maps to Spark's JDBCTableCatalog (the Flink
        // JDBC catalog analog); 'generic_in_memory' gets a private in-memory
        // Derby database behind the same plugin, so a second catalog is fully
        // usable (CREATE/INSERT/SELECT/SHOW) without external services.
        val name = name0.replace("`", "")
        val opts = OptRe.findAllMatchIn(optStr).map(x => x.group(1) -> x.group(2)).toMap
        val url = opts.getOrElse("type", "generic_in_memory") match {
          case "jdbc" =>
            val base = opts.getOrElse("base-url", throw new IllegalArgumentException(
              "jdbc catalog requires 'base-url'"))
            opts.get("default-database")
              .map(db => if (base.endsWith("/")) base + db else s"$base/$db")
              .getOrElse(base)
          case "generic_in_memory" => s"jdbc:derby:memory:graft_cat_$name;create=true"
          case other => throw new IllegalArgumentException(
            s"catalog type '$other' is unsupported (supported: jdbc, generic_in_memory)")
        }
        spark.conf.set(s"spark.sql.catalog.$name",
          "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
        spark.conf.set(s"spark.sql.catalog.$name.url", url)
        opts.get("username").foreach(u => spark.conf.set(s"spark.sql.catalog.$name.user", u))
        opts.get("password").foreach(p => spark.conf.set(s"spark.sql.catalog.$name.password", p))
        opts.get("driver").foreach(d => spark.conf.set(s"spark.sql.catalog.$name.driver", d))
        Statement(s"Catalog $name created")
      case DropCatalogRe(name0) =>
        val name = name0.replace("`", "")
        // unset EVERY key under the catalog's prefix — ALTER CATALOG can
        // register arbitrary suffixes, and a leftover would leak into a
        // later re-CREATE of the same name
        val prefix = s"spark.sql.catalog.$name"
        spark.conf.getAll.keys
          .filter(k => k == prefix || k.startsWith(prefix + "."))
          .foreach(spark.conf.unset)
        Statement(s"Catalog $name dropped")
      case AlterCatalogRe(name0, optStr) =>
        // FLIP-295 ALTER CATALOG ... SET: update the catalog's registered
        // options in place (the same key translation CREATE CATALOG uses).
        // 'type' and 'default-database' are structural — they were folded
        // into the catalog implementation / url at CREATE time and cannot
        // be re-pointed here; claiming success would silently do nothing.
        val name = name0.replace("`", "")
        if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty)
          throw new IllegalArgumentException(s"Catalog '$name' does not exist")
        val opts = OptRe.findAllMatchIn(optStr).map(x => x.group(1) -> x.group(2)).toMap
        val structural = opts.keys.filter(k => k == "type" || k == "default-database")
        if (structural.nonEmpty) throw new IllegalArgumentException(
          s"ALTER CATALOG cannot change ${structural.mkString(", ")} — " +
            "DROP and re-CREATE the catalog")
        opts.foreach {
          case ("username", v) => spark.conf.set(s"spark.sql.catalog.$name.user", v)
          case ("base-url", v) => spark.conf.set(s"spark.sql.catalog.$name.url", v)
          case (k, v) => spark.conf.set(s"spark.sql.catalog.$name.$k", v)
        }
        Statement(s"Catalog $name options updated (${opts.keys.mkString(", ")})")
      case _ if upper.replaceAll("\\s+", " ").startsWith("CREATE MODULE") ||
          upper.replaceAll("\\s+", " ").startsWith("DROP MODULE") =>
        // Flink modules are LOADED, not created (G:371-384): answer with the
        // correct verb instead of leaking a raw parse error
        throw new IllegalArgumentException(
          "Modules are loaded, not created or dropped — use LOAD MODULE / UNLOAD MODULE")
      case _ if upper.trim == "END" =>
        // a stray END outside BEGIN STATEMENT SET ... END (the paired form
        // is consumed by the statement-set route)
        throw new IllegalArgumentException(
          "END without an open BEGIN STATEMENT SET")
      case _ if upper.startsWith("CURRENT_WATERMARK") =>
        Statement("CURRENT_WATERMARK() is unsupported — read StreamingQueryProgress.eventTime.watermark instead")
      case _ if upper.replaceAll("\\s+", " ").startsWith("BEGIN STATEMENT SET") =>
        // strip the (case-insensitive) BEGIN header; split keeps the trailing
        // standalone END as its own token — drop it, not a CASE's END
        val inner = stmt.replaceFirst("(?is)^BEGIN\\s+STATEMENT\\s+SET\\s*;?", "")
        val stmts = FlinkDialect.split(inner)
          .filterNot(_.trim.equalsIgnoreCase("END"))
          .filter(_.trim.nonEmpty)
        // Flink compiles a statement set as ONE job — all-or-nothing. Pre-
        // compile every INSERT member (analysis only, nothing runs) before
        // executing any: a member that an earlier ALTER invalidated (a
        // dropped source column, a changed sink arity) previously failed
        // MID-SET, leaving earlier members' jobs running or batch writes
        // committed while the statement answered an error (r15).
        stmts.zipWithIndex.foreach { case (s0, i) =>
          val s = s0.stripSuffix(";")
          try s match {
            case InsertIntoRe(target, select)
                if TableEnv.lookup(target.replace("`", "")).isDefined =>
              val b = TableEnv.lookup(target.replace("`", "")).get
              val df = TableEnv.alignInsert(b, spark.sql(FlinkDialect.rewrite(select)))
              // a STREAMING member's deterministic start preconditions
              // (sink-log divergence, used-sink refusals) run here too, so
              // a member that would refuse at start fails the whole set
              // before any sibling job starts
              if (df.isStreaming) TableEnv.streamingSinkPreflight(spark, b)
            case InsertOverwriteRe(target, select)
                if TableEnv.lookup(target.replace("`", "")).isDefined =>
              TableEnv.alignInsert(TableEnv.lookup(target.replace("`", "")).get,
                spark.sql(FlinkDialect.rewrite(select))).schema
            case InsertColsRe(mode, target, colList, body)
                if TableEnv.lookup(target.replace("`", "")).isDefined =>
              // full column-list validation (arity, unknown/duplicate
              // names) + streaming preflight, exactly as the execute route
              // runs them — this form could previously fail MID-SET after
              // earlier batch members committed (r15 ADVICE)
              val b = TableEnv.lookup(target.replace("`", "")).get
              val df = alignColsInsert(spark, b, colList, body)
              if (df.isStreaming) {
                if (mode.equalsIgnoreCase("OVERWRITE"))
                  throw new IllegalArgumentException(
                    "INSERT OVERWRITE cannot take a streaming source")
                TableEnv.streamingSinkPreflight(spark, b)
              }
            case InsertColsRe(_, _, _, body) =>
              spark.sql(FlinkDialect.rewrite(body)).schema
            case _ => ()
          } catch {
            // the root cause is EMBEDDED, not chained: the gateway surfaces
            // the root of the chain, which would hide the member context
            case e: Exception => throw new IllegalArgumentException(
              s"statement set member ${i + 1} of ${stmts.size} failed to " +
                s"compile: ${Results.rootCauseMessage(e)} — no member was executed")
          }
        }
        // runtime failures past the pre-compile (e.g. a restarted member's
        // state schema turning out incompatible) still fail the whole set:
        // streaming jobs already started by EARLIER members are stopped, so
        // the set never half-runs (batch members that already wrote are
        // named — a committed batch write is not silently revocable)
        val started = scala.collection.mutable.ArrayBuffer.empty[String]
        var batchDone = 0
        val handles = stmts.zipWithIndex.map { case (s0, i) =>
          try {
            val r = route(spark, s0.stripSuffix(";"))
            r match {
              case Statement(m) =>
                "Job (\\S+) started".r.findFirstMatchIn(m)
                  .foreach(j => started += j.group(1))
                if (m.startsWith("Inserted") || m.startsWith("Overwrote")) batchDone += 1
              case _ => ()
            }
            r
          } catch {
            case e: Exception =>
              started.foreach(Jobs.stop)
              throw new IllegalArgumentException(
                s"statement set member ${i + 1} of ${stmts.size} failed at " +
                  s"start: ${Results.rootCauseMessage(e)}. The " +
                  s"${started.size} streaming job(s) earlier members started " +
                  "were stopped" +
                  (if (batchDone > 0) s"; $batchDone earlier batch INSERT(s) " +
                    "had already committed and were NOT rolled back" else ""))
          }
        }
        Statement(s"Statement set: ${handles.size} inserts submitted")
      case UpdateRe(target, rest) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        // batch UPDATE (corpus F:192): filesystem rewrites via directory
        // swap; jdbc pushes the statement down to the database
        val b = TableEnv.lookup(target.replace("`", "")).get
        val (setClause, where) = splitSetWhere(rest)
        val assignments = FlinkDialect.splitAssignments(setClause).map { a =>
          val Array(c, e) = a.split("=", 2)
          c.trim.replace("`", "") -> FlinkDialect.rewrite(e.trim)
        }
        val n = TableEnv.update(spark, b, assignments, where.map(FlinkDialect.rewrite))
        Statement(s"$n rows updated in ${b.name}")
      case DeleteRe(target, where) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        val b = TableEnv.lookup(target.replace("`", "")).get
        val n = TableEnv.delete(spark, b, Option(where).map(FlinkDialect.rewrite))
        Statement(s"$n rows deleted from ${b.name}")
      case MergeRe(target, tAlias, src, sAlias, rest)
          if TableEnv.lookup(target.replace("`", "")).isDefined =>
        // batch MERGE (grammar keyword): join-once rewrite + atomic swap
        val b = TableEnv.lookup(target.replace("`", "")).get
        val (onCond, clauseStrs) = splitMergeRest(rest)
        require(clauseStrs.nonEmpty, "MERGE needs at least one WHEN clause")
        val clauses = clauseStrs.map(parseMergeClause)
        val srcName = src.replace("`", "")
        val source = TableEnv.lookup(srcName).map(TableEnv.batchDF(spark, _))
          .getOrElse(spark.table(srcName))
        val (touched, inserted) = TableEnv.merge(spark, b,
          Option(tAlias).getOrElse(b.name), source, Option(sAlias).getOrElse(srcName),
          FlinkDialect.rewrite(onCond), clauses)
        Statement(s"MERGE into ${b.name}: $touched matched rows affected, $inserted inserted")
      case CompilePlanRe(path, insert) =>
        // COMPILE PLAN (G:379): persist the statement plus its physical plan
        // (diagnostic); EXECUTE PLAN replays the stored statement — the Spark
        // analog of Flink's compiled-plan restore
        val selectPart = insert.replaceFirst("(?is)^INSERT\\s+INTO\\s+[\\w.`]+\\s+", "")
        val plan =
          try spark.sql(FlinkDialect.rewrite(selectPart)).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Exception => s"(plan unavailable: ${Results.rootCauseMessage(e)})" }
        val b64 = java.util.Base64.getEncoder.encodeToString(insert.getBytes("UTF-8"))
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          s"GRAFT COMPILED PLAN v1\n$b64\n$plan\n".getBytes("UTF-8"))
        Statement(s"Plan compiled to $path")
      case ExecutePlanRe(path) =>
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(path)).toArray(Array.empty[String])
        require(lines.length >= 2 && lines(0).startsWith("GRAFT COMPILED PLAN"),
          s"Not a compiled plan file: $path")
        val stmtStored = new String(java.util.Base64.getDecoder.decode(lines(1)), "UTF-8")
        route(spark, stmtStored.trim.stripSuffix(";"))
      case InsertIntoRe(target, select) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        val b = TableEnv.lookup(target.replace("`", "")).get
        // positional alignment: the query's column names must NOT reach the
        // writer (r14 find — a post-ALTER `SELECT id, w, 'g2'` wrote files
        // whose by-name read NULL-filled every declared column)
        val df = TableEnv.alignInsert(b, spark.sql(FlinkDialect.rewrite(select)))
        if (df.isStreaming) Statement(s"Job ${TableEnv.startStreamingInsert(spark, b, df)} started")
        else { TableEnv.batchInsert(spark, b, df); Statement(s"Inserted into ${b.name}") }
      case InsertOverwriteRe(target, select) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        val b = TableEnv.lookup(target.replace("`", "")).get
        TableEnv.batchInsert(spark, b,
          TableEnv.alignInsert(b, spark.sql(FlinkDialect.rewrite(select))), overwrite = true)
        Statement(s"Overwrote ${b.name}")
      case InsertColsRe(mode, target, colList, body)
          if TableEnv.lookup(target.replace("`", "")).isDefined =>
        // column-list and/or VALUES INSERT (reference corpus F:176-177).
        // Unnamed columns receive NULL; everything realigns to the declared
        // schema by name and type before the write — the parquet writer
        // records the frame's column NAMES, so an unaligned col1/col2
        // VALUES frame would corrupt the table for later reads.
        val b = TableEnv.lookup(target.replace("`", "")).get
        val aligned = alignColsInsert(spark, b, colList, body)
        if (aligned.isStreaming) {
          // the no-column-list form starts a streaming job for streaming
          // sources — this form must too (valid Flink SQL either way)
          if (mode.equalsIgnoreCase("OVERWRITE")) throw new IllegalArgumentException(
            "INSERT OVERWRITE cannot take a streaming source")
          Statement(s"Job ${TableEnv.startStreamingInsert(spark, b, aligned)} started")
        } else {
          TableEnv.batchInsert(spark, b, aligned,
            overwrite = mode.equalsIgnoreCase("OVERWRITE"))
          Statement(s"Inserted into ${b.name}")
        }
      case CreateViewRe(orReplace, temp, ifNotExists, name, select) =>
        // Flink views are catalog objects; the engine registry is in-memory,
        // so both forms land as session temp views + a stored definition
        // (F:77-90). The view body goes through the dialect layer.
        // Conflict semantics match Flink: plain CREATE on an existing view
        // fails, IF NOT EXISTS no-ops, only OR REPLACE redefines.
        val viewName = name.replace("`", "")
        // TEMPORARY view definitions are scoped to this gateway session
        // (its SparkSession identity): another session's same-named temp
        // view must neither conflict here nor be visible to this one
        val scope = viewScope(spark)
        // TEMPORARY form: only a conflict in THIS session's scope blocks —
        // a temporary view may shadow a same-named catalog view (Flink
        // semantics; the "" fallback wrongly rejected the shadow pre-r12).
        // Non-temporary form: conflicts with the shared catalog definition
        // or any Spark-visible relation of that name.
        // the non-temporary form claims a CATALOG name: a binding of that
        // name blocks it even under OR REPLACE (Flink: "existing object is
        // not a view") — the registry is cluster-wide, so tableExists on
        // this session alone would miss bindings not yet materialized here
        if (temp == null && TableEnv.lookup(viewName).isDefined) {
          if (ifNotExists != null) Statement(s"View $viewName already exists (no-op)")
          else throw new IllegalArgumentException(
            s"'$viewName' is a table — tables and views share the catalog " +
              "namespace; DROP TABLE it first")
        } else {
        val exists =
          if (temp != null)
            TableEnv.viewDefExact(viewName, scope).isDefined ||
              // a same-session relation (a connector-less CREATE TEMPORARY
              // TABLE, or a raw createTempView not made through the
              // gateway) owns the name too — only a SHARED object
              // (binding / catalog view) may be shadowed without OR REPLACE
              plainRelations.contains((scope, viewName.toLowerCase)) ||
              (spark.catalog.tableExists(viewName) &&
                TableEnv.lookup(viewName).isEmpty &&
                TableEnv.viewDefExact(viewName, "").isEmpty)
          else TableEnv.viewDefExact(viewName, "").isDefined ||
            spark.catalog.tableExists(viewName)
        if (exists && orReplace == null) {
          if (ifNotExists != null) Statement(s"View $viewName already exists (no-op)")
          else throw new IllegalArgumentException(
            s"View '$viewName' already exists — use CREATE OR REPLACE VIEW to redefine it")
        } else {
          // a non-temporary CREATE OR REPLACE while THIS session holds a
          // same-named temporary shadow must update only the catalog
          // definition — the shadow's materialization keeps winning locally
          // (it would otherwise show the catalog body under a TEMPORARY
          // SHOW CREATE VIEW, the inconsistency shadowing exists to avoid)
          val throughShadow =
            temp == null && (TableEnv.viewDefExact(viewName, scope).isDefined ||
              plainRelations.contains((scope, viewName.toLowerCase)))
          // capture the view's output columns at CREATE time (Flink stores
          // the EXPANDED query): `SELECT *` must not grow columns when the
          // underlying table later evolves. The wrap only applies when the
          // body's column names are unambiguous — but a body that does not
          // RESOLVE fails the CREATE itself (Flink validates view bodies).
          // Previously the resolution failure was swallowed with the
          // capture, so a CREATE whose materialization a local shadow
          // suppressed (throughShadow below) registered an unvalidated,
          // capture-less catalog definition over e.g. a dropped table
          // (r15 soak NamespaceFuzzSpec find at 3x depth).
          val matSql = {
            val cols = spark.sql(FlinkDialect.rewrite(select)).columns.toSeq
            val distinct = cols.map(_.toLowerCase).distinct.size == cols.size
            if (cols.nonEmpty && distinct)
              Some("SELECT " + cols.map(c => s"`${c.replace("`", "``")}`")
                .mkString(", ") + s" FROM (\n${select.trim}\n) __graft_view_body")
            else None
          }
          if (!throughShadow)
            spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$viewName` AS " +
              FlinkDialect.rewrite(matSql.getOrElse(select)))
          TableEnv.registerView(viewName, select.trim, temp != null, scope, matSql)
          // an explicit OR REPLACE over a plain temporary-table relation
          // replaces it — the relation tracking must not outlive it
          if (temp != null)
            plainRelations.remove((scope, viewName.toLowerCase))
          Statement(s"View $viewName created")
        }
        }
      case ShowCreateViewRe(target) =>
        TableEnv.viewDef(target.replace("`", ""), viewScope(spark)) match {
          case Some((sql, temp)) => Statement(
            s"CREATE ${if (temp) "TEMPORARY " else ""}VIEW `${target.replace("`", "")}` AS $sql")
          case None => Finished(spark.sql(s"SHOW CREATE TABLE $target"))
        }
      case DropTableRe(temp, _, target)
          if temp != null && plainRelations.contains(
            (viewScope(spark), target.replace("`", "").toLowerCase)) =>
        // session temporary tables resolve FIRST (Flink's temporary
        // namespace precedes the catalog), so DROP TEMPORARY TABLE drops
        // the local relation even when a binding shares the name — the
        // shared object re-surfaces lazily on the next reference
        val n = target.replace("`", "").toLowerCase
        spark.catalog.dropTempView(n)
        plainRelations.remove((viewScope(spark), n))
        Statement(s"Table $n dropped")
      case DropTableRe(temp, _, target)
          if temp == null && plainRelations.contains(
            (viewScope(spark), target.replace("`", "").toLowerCase)) =>
        // plain DROP TABLE through a session temporary table: the same
        // unconditional refusal as through a temporary binding
        throw new IllegalArgumentException(
          s"A temporary table '${target.replace("`", "")}' exists — " +
            "use DROP TEMPORARY TABLE to remove it")
      case DropTableRe(temp, ifExists, target) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        // DROP TABLE on a connector binding must remove the REGISTRY entry
        // and every session's materialization — pre-r12, Spark's DROP TABLE
        // only removed the current session's temp view, leaving the binding
        // answering SHOW CREATE TABLE/DESCRIBE forever; with r12's lazy
        // cross-session visibility it would even resurrect on reference.
        // Keyword and binding temporariness must agree (Flink's
        // CatalogManager refuses the cross-drop in both directions).
        val n = target.replace("`", "").toLowerCase
        val b = TableEnv.lookup(n).get
        if ((temp != null) && !b.temporary) {
          if (ifExists != null) Statement(s"Table $n does not exist (no-op)")
          else throw new IllegalArgumentException(
            s"Table '$n' is not temporary — use DROP TABLE")
        } else if ((temp == null) && b.temporary)
          throw new IllegalArgumentException(
            s"A temporary table '$n' exists — use DROP TEMPORARY TABLE to remove it")
        else {
        TableEnv.drop(n)
        if (b.distribution.isDefined)
          try spark.sql(s"DROP TABLE IF EXISTS ${TableEnv.bucketTableName(b)}")
          catch { case _: Exception => () }
        TableEnv.openSessionSparks.foreach { sp =>
          if (!locallyShadowed(sp, n))
            try sp.catalog.dropTempView(n)
            catch { case _: Exception => () }
        }
        // the caller may itself hold a temporary-view shadow of the name —
        // DROP TABLE removes the TABLE, never the shadow
        if (!locallyShadowed(spark, n))
          spark.catalog.dropTempView(n)
        Statement(s"Table $n dropped")
        }
      case DropTableRe(_, _, target)
          if TableEnv.viewDefExact(target.replace("`", "").toLowerCase, "").isDefined ||
            TableEnv.viewDefExact(target.replace("`", "").toLowerCase,
              viewScope(spark)).isDefined =>
        // the object exists but is a VIEW (catalog, or this session's
        // temporary) — Flink refuses the cross-kind drop even under IF
        // EXISTS (the identifier is not absent, it is the wrong kind);
        // delegating to Spark would silently destroy the view's local
        // materialization while the definition lives on
        throw new IllegalArgumentException(
          s"'${target.replace("`", "")}' is a view — use DROP " +
            (if (TableEnv.viewDefExact(target.replace("`", "").toLowerCase, "").isDefined)
              "VIEW" else "TEMPORARY VIEW"))
      case DropTableRe(temp, ifExists, target) if temp != null =>
        // TEMPORARY form with no registered object: Spark has no DROP
        // TEMPORARY TABLE grammar, so delegating would surface a parse
        // error instead of the real answer. A connector-less CREATE
        // TEMPORARY TABLE lands as a plain session relation (not in the
        // registry) — dropTempView is exactly its drop.
        val n = target.replace("`", "")
        if (spark.catalog.dropTempView(n)) {
          plainRelations.remove((viewScope(spark), n.toLowerCase))
          Statement(s"Table $n dropped")
        } else if (ifExists != null)
          Statement(s"Table $n does not exist (no-op)")
        else throw new IllegalArgumentException(
          s"Temporary table '$n' does not exist")
      case DropViewRe(_, _, target)
          if plainRelations.contains(
            (viewScope(spark), target.replace("`", "").toLowerCase)) &&
            TableEnv.viewDefExact(target.replace("`", "").toLowerCase, "").isEmpty =>
        // DROP [TEMPORARY] VIEW on a session temporary TABLE — cross-kind.
        // When a catalog VIEW of the name ALSO exists behind the shadow,
        // fall through: DROP VIEW targets the catalog object (Flink's kind
        // filter lets a temp TABLE shadow pass), so the view stays
        // droppable while shadowed
        throw new IllegalArgumentException(
          s"'${target.replace("`", "")}' is a table — use DROP TEMPORARY TABLE")
      case DropViewRe(_, _, target)
          if TableEnv.lookup(target.replace("`", "")).isDefined &&
            !TableEnv.viewDefExact(target.replace("`", "").toLowerCase,
              viewScope(spark)).isDefined &&
            !TableEnv.viewDefExact(target.replace("`", "").toLowerCase, "").isDefined =>
        // mirror guard: DROP VIEW on a table name — delegating to Spark
        // would drop the binding's materialization in THIS session only,
        // leaving a ghost that resurrects on the next reference
        throw new IllegalArgumentException(
          s"'${target.replace("`", "")}' is a table — use DROP TABLE")
      case DropViewRe(temp, ifExists, target) =>
        // Scope-exact semantics (Flink's): DROP TEMPORARY VIEW removes only
        // THIS session's (scope, name) definition; plain DROP VIEW removes
        // only the shared catalog ("", name) definition. The pre-r12
        // fallback let any session's DROP TEMPORARY VIEW erase a shared
        // catalog view visible to every other session.
        val n = target.replace("`", "")
        if (temp != null) {
          if (TableEnv.dropView(n, viewScope(spark))) {
            spark.catalog.dropTempView(n)
            // un-shadow: if the dropped temp view shadowed a catalog view,
            // restore the catalog view's materialization so SELECT agrees
            // with what SHOW CREATE VIEW now advertises
            if (TableEnv.viewDefExact(n, "").isDefined)
              TableEnv.viewMatSql(n, "").foreach { sql =>
                try spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$n` AS " +
                  FlinkDialect.rewrite(sql))
                catch { case _: Exception => () }
              }
            Statement(s"View $n dropped")
          } else if (TableEnv.viewDefExact(n, "").isDefined) {
            // the only local relation is this session's MATERIALIZATION of
            // a catalog view — dropping it would silently break later
            // SELECTs while SHOW CREATE VIEW still advertises the view
            if (ifExists != null) Statement(s"View $n does not exist (no-op)")
            else throw new IllegalArgumentException(
              s"Temporary view '$n' does not exist in this session — " +
                s"'$n' is a catalog view; use DROP VIEW")
          } else if (spark.catalog.dropTempView(n) || ifExists != null)
            Statement(s"View $n dropped")
          else throw new IllegalArgumentException(
            s"Temporary view '$n' does not exist in this session")
        } else if (TableEnv.viewDefExact(n, viewScope(spark)).isDefined)
          // Flink refuses to DROP VIEW through a temporary view of the same
          // name — the caller must say which object they mean
          throw new IllegalArgumentException(
            s"A temporary view '$n' exists in this session — " +
              "use DROP TEMPORARY VIEW to remove it")
        else if (TableEnv.dropView(n, "")) {
          // drop the materialization in EVERY open session (the view was a
          // cluster object), sparing sessions whose own temporary shadow
          // owns the name; forget the materialization-cache entries so a
          // later re-CREATE re-materializes everywhere
          TableEnv.openSessionSparks.foreach { sp =>
            if (!locallyShadowed(sp, n))
              try sp.catalog.dropTempView(n)
              catch { case _: Exception => () }
          }
          materializedViews.keys.filter(_._2 == n.toLowerCase)
            .foreach(materializedViews.remove)
          // the caller may hold a plain temp-TABLE shadow of the name
          // (a temp-VIEW shadow was refused earlier in this chain) —
          // dropping the catalog view must not kill it
          if (!locallyShadowed(spark, n)) spark.catalog.dropTempView(n)
          Statement(s"View $n dropped")
        } else {
          // not engine-registered: delegate to Spark, rebuilt WITHOUT the
          // TEMPORARY keyword — Spark's grammar has no DROP TEMPORARY VIEW,
          // so re-running the raw Flink text would ParseException on the
          // one-token difference
          spark.sql(s"DROP VIEW ${if (ifExists != null) "IF EXISTS " else ""}`$n`")
          Statement(s"View $n dropped")
        }
      case AlterSetRe(target, optStr) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        val opts = OptRe.findAllMatchIn(optStr).map(x => x.group(1) -> x.group(2)).toMap
        val b = TableEnv.alterOptions(spark, target.replace("`", ""), opts)
        // alterOptions rebinds only HERE — drop the other sessions'
        // materializations (sparing shadows) so their next reference
        // re-materializes with the new options instead of serving
        // pre-ALTER semantics forever (r12 review finding; the same
        // stale-ghost class as DROP/RENAME). ALL live sessions, across
        // gateway instances (r16).
        TableEnv.openSessionSparks.foreach { sp =>
          if ((sp ne spark) && !locallyShadowed(sp, b.name))
            try sp.catalog.dropTempView(b.name)
            catch { case _: Exception => () }
        }
        Statement(s"Table ${b.name} options updated (${opts.keys.mkString(", ")})")
      case AlterSchemaRe(target, verb, rest)
          if TableEnv.lookup(target.replace("`", "")).isDefined =>
        val tn = target.replace("`", "").toLowerCase
        // temporary namespace resolves FIRST — same refusal as RENAME/SET:
        // ALTER TABLE must not silently edit the catalog object behind a
        // temp-table shadow
        if (plainRelations.contains((viewScope(spark), tn)))
          throw new IllegalArgumentException(
            s"A temporary table '$tn' shadows the catalog table — " +
              "ALTER TABLE cannot address it; DROP TEMPORARY TABLE it first")
        val b = TableEnv.alterSchema(spark, tn, verb, rest)
        // rebind only materialized HERE — drop the other sessions' stale
        // materializations (sparing shadows), same class as ALTER SET
        TableEnv.openSessionSparks.foreach { sp =>
          if ((sp ne spark) && !locallyShadowed(sp, b.name))
            try sp.catalog.dropTempView(b.name)
            catch { case _: Exception => () }
        }
        Statement(s"Table ${b.name} schema altered (${verb.toUpperCase})")
      case AlterRenameRe(from, to) if TableEnv.lookup(from.replace("`", "")).isDefined =>
        val fromN = from.replace("`", "").toLowerCase
        val toN = to.replace("`", "").toLowerCase
        // Flink refuses to rename onto an existing object
        if (TableEnv.lookup(toN).isDefined || TableEnv.viewDefExact(toN, "").isDefined)
          throw new IllegalArgumentException(
            s"Could not rename: an object named '$toN' already exists")
        // temporary namespace resolves FIRST: a plain temp TABLE shadowing
        // fromN means ALTER TABLE addresses the temporary object — refuse,
        // exactly as DROP TABLE does in the same state (a temp VIEW shadow
        // does not block table verbs)
        if (plainRelations.contains((viewScope(spark), fromN)))
          throw new IllegalArgumentException(
            s"A temporary table '$fromN' shadows the catalog table — " +
              "ALTER TABLE cannot address it; DROP TEMPORARY TABLE it first")
        val renPlainShadows = Seq(toN)
          .filter(nm => plainRelations.contains((viewScope(spark), nm)))
          .flatMap(nm => try Some((nm, spark.table(nm))) catch { case _: Exception => None })
        val b = TableEnv.rename(spark, fromN, toN)
        // the old name must die in EVERY session, not just this one —
        // a stale materialization elsewhere is a readable ghost of a
        // cluster object that no longer exists (same class as DROP TABLE)
        TableEnv.openSessionSparks.foreach { sp =>
          if ((sp ne spark) && !locallyShadowed(sp, fromN))
            try sp.catalog.dropTempView(fromN)
            catch { case _: Exception => () }
        }
        // rename rebinds the NEW name and drops the OLD name here — local
        // temporary shadows of EITHER name must keep winning / survive
        // (same restore as the CREATE TABLE route; without the fromN
        // restore the caller's shadow materialization dies while SHOW
        // CREATE VIEW still advertises it — r12 review finding). Plain
        // temporary-table relations have no SQL body, so their DataFrames
        // were saved above.
        Seq(toN, fromN).foreach { nm =>
          // restore from the MATERIALIZATION text (the schema-captured wrap
          // when one exists) — restoring from the raw body re-expanded a
          // star view's `*` against the evolved base, silently growing the
          // shadow's captured schema (r15 soak find)
          if (TableEnv.viewDefExact(nm, viewScope(spark)).isDefined)
            TableEnv.viewMatSql(nm, viewScope(spark)).foreach { sql =>
              try spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$nm` AS " +
                FlinkDialect.rewrite(sql))
              catch { case _: Exception => () }
            }
        }
        renPlainShadows.foreach { case (nm, df) =>
          try df.createOrReplaceTempView(nm) catch { case _: Exception => () }
        }
        Statement(s"Table renamed to ${b.name}")
      case AlterRenameRe(from, _)
          if TableEnv.viewDefExact(from.replace("`", "").toLowerCase, "").isDefined ||
            locallyShadowed(spark, from.replace("`", "")) =>
        // not a binding but a known VIEW or session temporary table:
        // delegating to Spark would rename the local materialization while
        // the stored definition (or relation tracking) keeps the old name —
        // a ghost in this session and a re-materialization in every other.
        // Flink likewise refuses ALTER TABLE on temporary objects.
        throw new IllegalArgumentException(
          s"'${from.replace("`", "")}' is not an alterable table — " +
            "ALTER TABLE cannot rename a view or a temporary table")
      case ShowCreateRe(target) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        Statement(TableEnv.showCreateTable(TableEnv.lookup(target.replace("`", "")).get))
      case DescribeRe(target) if TableEnv.lookup(target.replace("`", "")).isDefined =>
        // Flink-shaped DESCRIBE: (name, type, null, key, extras, watermark) —
        // objectDetailsProvider.ts:123-128 renders exactly these columns
        val b = TableEnv.lookup(target.replace("`", "")).get
        import spark.implicits._
        Finished(b.cols.map { c =>
          val extras = c.computed.map(e => s"AS $e")
            .orElse(c.metadataFrom.map(m => s"METADATA FROM '$m' VIRTUAL"))
            .getOrElse("")
          val wm = if (b.watermark.exists(_._1 == c.name))
            s"`${c.name}` - INTERVAL '${b.watermark.get._2}'" else ""
          (c.name, if (c.sparkType.isEmpty) "COMPUTED" else c.sparkType,
            "true", if (b.primaryKey.contains(c.name)) "PRI" else "", extras, wm)
        }.toDF("name", "type", "null", "key", "extras", "watermark"))
      case s if graft.operators.MatchRecognize.isMatchRecognize(s) =>
        Finished(graft.operators.MatchRecognize.sql(spark, s))
      case s if OptionsHintRe.findFirstIn(s).isDefined =>
        // OPTIONS hint (F:489): per-query override of a binding's connector
        // options — materialize the adjusted binding as a shadow view and
        // re-route the hint-free statement against it
        val overrides = OptionsHintRe.findFirstMatchIn(s).map(m =>
          OptRe.findAllMatchIn(m.group(1)).map(x => x.group(1) -> x.group(2)).toMap)
          .getOrElse(Map.empty)
        val stripped = OptionsHintRe.replaceAllIn(s, "")
        // the hint modifies the table reference it is ATTACHED to (Flink
        // places it right after the table, before or after the alias) — not
        // whatever table happens to come first in the statement
        val target = """(?is)\b(?:FROM|JOIN)\s+([\w.`]+)(?:\s+(?:AS\s+)?[\w`]+)?\s*/\*\+\s*OPTIONS""".r
          .findFirstMatchIn(s).map(_.group(1).replace("`", ""))
          .orElse("""(?is)\bFROM\s+([\w.`]+)""".r.findFirstMatchIn(stripped)
            .map(_.group(1).replace("`", "")))
        target.flatMap(TableEnv.lookup) match {
          case Some(b) if overrides.nonEmpty =>
            val nb = b.copy(options = b.options ++ overrides)
            val shadow = s"${b.name}__opts_${math.abs(overrides.hashCode)}"
            TableEnv.materializeDF(spark, nb) match {
              case Some(df) =>
                df.createOrReplaceTempView(shadow)
                route(spark, substituteTable(stripped, b.name, shadow))
              case None => route(spark, stripped)
            }
          case _ => route(spark, stripped)
        }
      case s if graft.operators.AsOfJoin.isTemporalSql(s) =>
        // versioned temporal join → carry-forward as-of; unresolvable version
        // time (processing-time dims) falls through to the snapshot rewrite.
        // Streaming inputs must route through the streaming lifecycle — a
        // Finished(streaming df) would escape the Failed contract later, at
        // fetch time, when toLocalIterator refuses streaming sources
        graft.operators.AsOfJoin.sql(spark, s).map { df =>
          if (df.isStreaming) startStreamingSelect(spark, df)
          else Finished(df): OpResult
        }.getOrElse {
          val df = spark.sql(FlinkDialect.rewrite(s))
          if (df.isStreaming) startStreamingSelect(spark, df) else Finished(df)
        }
      case s if CurrentWatermarkRe.findFirstIn(s).isDefined =>
        currentWatermarkSelect(spark, s)
      case s =>
        ttlAggregate(spark, s) match {
          // flatMapGroupsWithState(Update) requires update output mode
          case Some(df) => startStreamingSelect(spark, df, forceMode = Some("update"))
          case None =>
        streamingDedup(spark, s) match {
          case Some(df) => startStreamingSelect(spark, df)
          case None =>
            graft.operators.StreamingTopN.rewrite(spark, s, FlinkDialect.rewrite) match {
              case Some((inner, transform)) => startStreamingSelect(spark, inner, transform)
              case None =>
                val df = spark.sql(FlinkDialect.rewrite(s))
                if (df.isStreaming) startStreamingSelect(spark, df) else Finished(df)
            }
        }
        }
    }
  }

  // ------------------------------------------------------------ state TTL --

  private val TtlAggRe =
    """(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.`]+)\s+GROUP\s+BY\s+([\w.`,\s]+?)\s*;?\s*$""".r
  private val TtlItemAggRe =
    """(?i)^(COUNT|SUM|MIN|MAX)\s*\(\s*(\*|[\w.`]+)\s*\)\s+AS\s+(\w+)$""".r

  /** `table.exec.state.ttl` honored for the shape it exists for: a simple
    * keyed streaming aggregation (`SELECT keys.., AGG(..) AS a FROM t GROUP
    * BY keys`) over a WATERMARKED binding. The aggregation runs through
    * [[graft.operators.StateTtl]] — per-key state evicted once the
    * watermark passes the key's last update + TTL, so an idle key restarts
    * from zero like Flink's expired state. Statements outside this shape
    * (windowed aggs, joins, expressions in GROUP BY) return None and take
    * the native path, where the TTL stays accepted-and-carried (windowed
    * aggregation state is already watermark-bounded by Spark itself). */
  private[graft] def ttlAggregate(spark: SparkSession, s: String): Option[DataFrame] = {
    val ttl = spark.conf.getOption("graft.state.ttl")
      .map(graft.operators.StateTtl.parseTtlMillis)
    if (ttl.isEmpty) return None
    TtlAggRe.findFirstMatchIn(s.trim.stripSuffix(";")).flatMap { m =>
      val tbl = m.group(2).replace("`", "")
      val keys = m.group(3).split(",").map(_.trim.replace("`", "")).toSeq
      if (keys.exists(k => !k.matches("\\w+"))) return None // expressions → native
      TableEnv.lookup(tbl).filter(_.watermark.isDefined).flatMap { b =>
        val items = FlinkDialect.splitAssignments(m.group(1))
        val parsed = items.map { it =>
          val t = it.trim
          TtlItemAggRe.findFirstMatchIn(t) match {
            case Some(a) => Right((a.group(1).toLowerCase,
              a.group(2).replace("`", ""), a.group(3)))
            case None if keys.contains(t.replace("`", "")) => Left(t.replace("`", ""))
            case None => return None // anything fancier → native path
          }
        }
        val aggs = parsed.collect { case Right(a) => a }
        if (aggs.isEmpty) return None
        val df = try spark.table(tbl) catch { case _: Exception => return None }
        if (!df.isStreaming) return None
        // typed-accumulator coverage: decimal / non-numeric aggregate inputs
        // keep the native path (StateTtl would change their result type)
        val typed = aggs.forall { case (kind, field, _) =>
          kind == "count" && field == "*" || (
            (try Some(df.schema(field).dataType) catch { case _: Exception => None })
              .exists(dt => kind == "count" || graft.operators.StateTtl.supportedInput(dt)))
        }
        if (!typed) return None
        val ttlDf = graft.operators.StateTtl.ttlKeyedAgg(
          df, keys, b.watermark.get._1, aggs, ttl.get)
        // StateTtl emits keys-first; re-project to the statement's own
        // select-item order/shape (a key omitted from the list stays omitted)
        val wanted = parsed.map { case Left(k) => k; case Right((_, _, alias)) => alias }
        Some(if (wanted == ttlDf.columns.toSeq) ttlDf
             else ttlDf.select(wanted.map(org.apache.spark.sql.functions.col): _*))
      }
    }
  }

  // CURRENT_WATERMARK(rowtime) (G:439). Batch: no watermark ever exists →
  // NULL, Flink's documented value before any watermark is emitted.
  // Streaming: Spark runs micro-batch N with the watermark computed from
  // data seen through batch N-1 (StreamingQueryProgress.eventTime) — exactly
  // the value Flink's function observes — so the statement is re-executed
  // per batch with that value substituted as a literal. The substitution is
  // driver-side SQL text (no executor state), so it holds on a real cluster.
  private val CurrentWatermarkRe =
    """(?i)\bCURRENT_WATERMARK\s*\(\s*[\w.`]+\s*\)""".r

  /** Replace every reference to `table` (bare word-bounded or
    * backtick-quoted) with `shadow` — the one substitution idiom for routing
    * a statement at a shadow temp view (OPTIONS hint, CURRENT_WATERMARK). */
  private[engine] def substituteTable(stmt: String, table: String, shadow: String): String = {
    val q = java.util.regex.Pattern.quote(table)
    stmt.replaceAll(s"(?i)(?:`$q`|(?<![\\w`])$q(?![\\w`]))",
      java.util.regex.Matcher.quoteReplacement(shadow))
  }

  // Statements that can't be re-executed per batch: aggregations would emit
  // independent partial aggregates, window functions would re-rank inside
  // each batch, LIMIT would take a per-batch top-k. Rejected on the
  // streaming path the same way the top-N path refuses update-mode ranking.
  // Scanned with string literals masked so a 'DISTINCT' constant can't trip it.
  private val AggStmtRe =
    ("""(?is)\bGROUP\s+BY\b|\bHAVING\b|\bDISTINCT\b|\bLIMIT\b|\bOVER\s*\(|""" +
      """\b(COUNT|SUM|AVG|MIN|MAX|STDDEV|STDDEV_SAMP|STDDEV_POP|VARIANCE|""" +
      """VAR_SAMP|VAR_POP|COLLECT_LIST|COLLECT_SET|COLLECT|LISTAGG|""" +
      """APPROX_COUNT_DISTINCT|APPROX_PERCENTILE)\s*\(""").r

  private def currentWatermarkSelect(spark: SparkSession, stmt: String): OpResult = {
    // scan every FROM/JOIN token that names a real table (a first-match
    // regex alone would grab `EXTRACT(HOUR FROM ts)`'s "FROM ts") and pick
    // the STREAMING one — a batch dim table may legitimately come first in
    // a join, and the per-batch execution joins the batch snapshot against
    // it correctly
    val tables = """(?is)\b(?:FROM|JOIN)\s+([\w.`]+)""".r.findAllMatchIn(stmt)
      .map(_.group(1).replace("`", "")).toSeq.distinct
      .flatMap(t => (try Some(t -> spark.table(t)) catch { case _: Exception => None }))
    tables.filter(_._2.isStreaming) match {
      case Seq((table, df)) =>
        // the function's argument must be a time attribute: the binding's
        // declared rowtime if the table is a binding, else at least a
        // timestamp-typed column of the stream
        val arg = """(?i)\bCURRENT_WATERMARK\s*\(\s*([\w.`]+)\s*\)""".r
          .findFirstMatchIn(stmt).map(_.group(1).replace("`", ""))
          .map(a => a.substring(a.lastIndexOf('.') + 1))
        val declared = TableEnv.lookup(table).flatMap(_.watermark.map(_._1))
        arg.foreach { a =>
          val ok = declared match {
            case Some(wmCol) => a.equalsIgnoreCase(wmCol)
            case None => df.schema.fields.exists(f =>
              f.name.equalsIgnoreCase(a) &&
                f.dataType.typeName.startsWith("timestamp"))
          }
          if (!ok) throw new IllegalArgumentException(
            s"CURRENT_WATERMARK: '$a' is not a time attribute of '$table'")
        }
        val masked = FlinkDialect.foldLiterals(
          CurrentWatermarkRe.replaceAllIn(stmt, ""))(_ => "''")
        if (AggStmtRe.findFirstIn(masked).isDefined)
          throw new IllegalArgumentException(
            "CURRENT_WATERMARK supports row-level streaming statements only " +
              "(projections/filters); aggregations, window functions and " +
              "LIMIT would recompute per micro-batch — apply them in a " +
              "statement without the function")
        // pre-name the query so the per-batch transform can find it from
        // batch 0 (setting the name after start would race early batches
        // into a NULL-watermark literal)
        val qn = s"select_${System.nanoTime()}"
        val shadow = s"__graft_wm_$qn"
        val stmtShadow = substituteTable(stmt, table, shadow)
        val transform: DataFrame => DataFrame = batch => {
          batch.createOrReplaceTempView(shadow)
          val wm = spark.streams.active.find(_.name == qn)
            .flatMap(q => Option(q.lastProgress))
            .flatMap(p => Option(p.eventTime.get("watermark")))
            .filterNot(_.startsWith("1970-01-01T00:00:00")) // no watermark yet
          val lit = wm match {
            case Some(w) =>
              // progress reports a UTC instant; render it in the session's
              // timezone or the literal shifts by the UTC offset
              val zone = java.time.ZoneId.of(spark.conf.get(
                "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
              val local = java.time.LocalDateTime.ofInstant(
                java.time.Instant.parse(w), zone)
              val fmt = java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss.SSS", java.util.Locale.ROOT)
              s"CAST('${fmt.format(local)}' AS TIMESTAMP)"
            case None => "CAST(NULL AS TIMESTAMP)"
          }
          batch.sparkSession.sql(FlinkDialect.rewrite(CurrentWatermarkRe
            .replaceAllIn(stmtShadow, java.util.regex.Matcher.quoteReplacement(lit))))
        }
        val res = startStreamingSelect(spark, df, transform, name0 = Some(qn))
        wmShadows.put(qn, (spark, shadow))
        res
      case Seq() =>
        // batch statement: a watermark never exists → NULL
        Finished(spark.sql(FlinkDialect.rewrite(
          CurrentWatermarkRe.replaceAllIn(stmt, "CAST(NULL AS TIMESTAMP)"))))
      case many => throw new IllegalArgumentException(
        "CURRENT_WATERMARK over a multi-stream statement is unsupported " +
          s"(streaming tables: ${many.map(_._1).mkString(", ")})")
    }
  }

  /** shadow temp views registered per CURRENT_WATERMARK operation, dropped
    * when the operation is closed (keyed by query name). */
  private val wmShadows =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, String)]

  // Flink's streaming "Deduplication" special query (docs-blessed pattern):
  //   SELECT ... FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY
  //   t ASC) AS rn FROM s) WHERE rn = 1
  // Spark streams reject window functions, so keep-first dedup maps to
  // dropDuplicates[WithinWatermark] on the partition keys.
  private val StreamingDedupRe =
    ("""(?is)^SELECT\s+(.*?)\s+FROM\s*\(\s*SELECT\s+(.*?),?\s*ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(""" +
      """\s*PARTITION\s+BY\s+([\w.`,\s]+?)\s+ORDER\s+BY\s+([\w.`]+)(?:\s+(ASC|DESC))?\s*\)\s+AS\s+(\w+)\s+""" +
      """FROM\s+([\w.`]+)\s*\)(?:\s+(?:AS\s+)?\w+)?\s+WHERE\s+(\w+)\s*=\s*1\s*$""").r

  /** The deduplicated streaming DataFrame when `stmt` is Flink's dedup
    * pattern over a STREAMING table; None lets batch tables fall through to
    * the native window-function plan. */
  private def streamingDedup(spark: SparkSession, stmt: String): Option[DataFrame] =
    for {
      m <- StreamingDedupRe.findFirstMatchIn(stmt.trim)
      if m.group(6).equalsIgnoreCase(m.group(8)) // rn alias matches the WHERE
      table = m.group(7).replace("`", "")
      src <- try Some(spark.table(table)) catch { case _: Exception => None }
      if src.isStreaming
    } yield {
      if (Option(m.group(5)).exists(_.equalsIgnoreCase("DESC")))
        throw new IllegalArgumentException(
          "streaming deduplication supports keep-first (ORDER BY ... ASC) only — " +
            "keep-last needs a retracting sink")
      val binding = TableEnv.lookup(table)
      val orderCol = m.group(4).replace("`", "")
      // inner projection (anything before ROW_NUMBER) applies first
      val innerList = m.group(2).trim
      val projected =
        if (innerList == "*" || innerList.isEmpty) src
        else src.selectExpr(FlinkDialect.splitAssignments(innerList)
          .map(FlinkDialect.rewrite): _*)
      val keys = m.group(3).split(",").map(_.trim.replace("`", "")).toSeq
      // rowtime: the binding's declared watermark column, or — for plain
      // streaming temp views with no binding — a column carrying Spark's
      // own watermark-delay metadata (set by withWatermark)
      val orderIsEventTime =
        binding.exists(_.watermark.exists(_._1.equalsIgnoreCase(orderCol))) ||
          (binding.isEmpty && src.schema.fields.exists(f =>
            f.name.equalsIgnoreCase(orderCol) &&
              f.metadata.contains("spark.watermarkDelayMs")))
      // Flink's Deduplication special query applies ONLY when ORDER BY is a
      // time attribute (rowtime or proctime). For any other column the
      // statement is a per-key min-by-column Top-1 — dropDuplicates would
      // keep the first-ARRIVING row, silently wrong whenever arrival order
      // differs from column order, so fail fast instead.
      // a proctime column's computed expression IS current_timestamp()
      // (PROCTIME() post-rewrite) — an expression merely REFERENCING it
      // (e.g. an age diff) is a regular column, not a time attribute
      val orderIsProcTime = binding.exists(_.cols.exists(c =>
        c.name.equalsIgnoreCase(orderCol) &&
          c.computed.exists(_.trim.toLowerCase
            .matches("current_timestamp(\\s*\\(\\s*\\))?"))))
      if (!orderIsEventTime && !orderIsProcTime)
        throw new IllegalArgumentException(
          s"streaming deduplication requires ORDER BY a time attribute " +
            s"(rowtime or proctime); '$orderCol' is a regular column — " +
            "per-key Top-1 by value is not supported on streams")
      val deduped =
        if (orderIsEventTime)
          // ORDER BY the rowtime column: dropDuplicates would keep the
          // first-ARRIVING row (wrong on out-of-order streams) — use the
          // stateful keep-min-by-event-time operator instead
          graft.operators.StreamingDedup.keepFirstByEventTime(projected, keys, orderCol)
        else if (binding.exists(_.watermark.isDefined))
          // proctime dedup; the declared watermark bounds the state
          // (Flink's state-TTL analog)
          projected.dropDuplicatesWithinWatermark(keys)
        else projected.dropDuplicates(keys)
      // rn = 1 for every surviving row — materialize it so an outer select
      // list referencing the alias still resolves
      val withRn = deduped.withColumn(m.group(6), org.apache.spark.sql.functions.lit(1L))
      val outer = m.group(1).trim
      if (outer == "*") withRn
      else withRn.selectExpr(FlinkDialect.splitAssignments(outer)
        .map(FlinkDialect.rewrite): _*)
    }

  /** Streaming SELECT (the notebook's continuous-query path,
    * notebookController.ts:219-294): run the query into the drop-oldest ring
    * buffer via foreachBatch, one job per micro-batch, and page it by token.
    * A micro-batch larger than the buffer keeps its first `capacity` rows. */
  private val identityTransform: DataFrame => DataFrame = df => df

  private def startStreamingSelect(spark: SparkSession, df: DataFrame,
      batchTransform: DataFrame => DataFrame = identityTransform,
      name0: Option[String] = None,
      forceMode: Option[String] = None): OpResult = {
    val buffer = new RingBuffer()
    val name = name0.getOrElse(s"select_${System.nanoTime()}")
    // derive output columns by probing the transform with an empty BATCH
    // frame of the stream's schema (the transform may add/rename columns)
    val cols = batchTransform(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)).columns.toSeq
    val cap = buffer.capacity
    def start(mode: String) = df.writeStream.outputMode(mode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one job over every partition: each task drains its iterator to the
        // end (a stateful partition commits its state store only then, and
        // Spark fails the batch unless every partition committed) and ships
        // at most `cap` rows; the driver keeps the first `cap` in partition
        // order, the rows `limit(cap).collect()` would return
        val parts = spark.sparkContext.runJob(batchTransform(batch).rdd, (it: Iterator[Row]) => {
          val kept = new ArrayBuffer[Row]
          it.foreach(r => if (kept.length < cap) kept += r)
          kept.toArray
        })
        buffer.append(parts.iterator.flatMap(_.iterator).take(cap).toSeq)
      }
      .queryName(name).start()
    // changelog semantics: projections stream in append mode; aggregations
    // without a watermark need update mode (Flink's retract/upsert stream —
    // EXPLAIN CHANGELOG_MODE would report exactly this); stateful operators
    // that declare their own output mode pin it via forceMode
    val q = forceMode.map(start).getOrElse(try start("append") catch {
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("STREAMING_OUTPUT_MODE") =>
        // a per-batch transform (window top-N rank) is only correct when
        // windows emit atomically on closure — never rank update-mode
        // partial aggregates into silently wrong results
        if (batchTransform ne identityTransform)
          throw new IllegalArgumentException(
            "window top-N needs an append-mode windowed aggregation " +
              "(group by window_start, window_end over a watermarked TVF window); " +
              "this aggregation can only run in update mode")
        start("update")
    })
    Jobs.register(name, q)
    StreamingOp(name, buffer, cols)
  }

  /** Flink config keys with a Spark equivalent (rest pass through as-is). */
  private def translateConf(k: String): String = k match {
    // Flink streaming-runtime knobs without a Spark counterpart are carried
    // in a graft.* namespace (accepted, surfaced, not silently rejected)
    case "table.exec.state.ttl" => "graft.state.ttl"
    case "execution.checkpointing.interval" => "graft.checkpoint.interval"
    case "sql-client.execution.result-mode" => "graft.result.mode"
    case other => other
  }

  // -------------------------------------------------------------- results --

  final case class Page(columns: Seq[String], rows: Seq[Seq[Any]], nextToken: Option[Int], eos: Boolean)

  /** Token-paged fetch (flinkClient.ts:154-172). Batch results are collected
    * once into pageSize chunks; streaming ops snapshot the ring buffer. */
  def fetchResults(opHandle: String, token: Int): Page = {
    val op = operations.getOrElse(opHandle,
      throw new IllegalStateException(s"Operation does not exist: $opHandle"))
    // liveness touch: retention evicts from the head of the session's FIFO,
    // so a large result a client is still token-paging must move to the tail
    // on each fetch — otherwise 512 newer statements in the same session
    // auto-close it mid-pagination and the next fetch throws
    sessionOps.get(op.session).foreach { q =>
      if (q.remove(opHandle)) {
        q.add(opHandle)
        // the remove/add pair is non-atomic: a closeSession purging the
        // queue while the handle was detached never saw it, so it would
        // never be closed — re-check and close on the losing side (the
        // local `op` reference still serves this final page fine)
        if (!sessions.contains(op.session) && operations.contains(opHandle))
          closeOperation(opHandle)
      }
    }
    op.result match {
      case Failed(err) =>
        Page(Seq("error"), if (token == 0) Seq(Seq(err)) else Nil, None, eos = true)
      case Statement(msg) =>
        Page(Seq("result"), if (token == 0) Seq(Seq(msg)) else Nil, None, eos = true)
      case Rows(cols, rows) =>
        val page = rows.slice(token * pageSize, (token + 1) * pageSize)
        val eos = (token + 1) * pageSize >= rows.size
        Page(cols, page, if (eos) None else Some(token + 1), eos)
      case Finished(df) =>
        // a batch result materializes lazily — a read failure (schema/file
        // drift since the plan was routed, corrupt bytes) surfaces HERE, not
        // at execute time; it must answer an error page like any other bad
        // statement, never escape fetchResults as a raw executor exception
        try {
          val rows = op.synchronized(batchPage(op, df, token))
          enforceSessionBytes(op.session, keep = opHandle)
          val eos = op.pageCount.exists(token + 1 >= _)
          Page(op.resultColumns, rows, if (eos) None else Some(token + 1), eos)
        } catch {
          case e: Exception =>
            Page(Seq("error"), Seq(Seq(Results.rootCauseMessage(e))), None, eos = true)
        }
      case StreamingOp(_, buffer, cols) =>
        // token = running row offset; rows older than the buffer are gone
        // (drop-oldest), newer rows stream in on later fetches
        val (offset, rows) = buffer.snapshot
        Page(cols, rows.drop((token - offset).toInt.max(0)).map(_.toSeq),
          Some((offset + rows.size).toInt), eos = false)
    }
  }

  /** Pages kept for idempotent re-fetch before being dropped; older tokens
    * restart the iterator (re-executes the query — rare client behavior,
    * bounded driver memory is the priority). */
  private val retainedPages = 8

  /** Materialize page `token` of a batch result from a lazily-consumed
    * `toLocalIterator` — one partition collected at a time, never a full
    * `collect()`. Caller holds `op`'s lock. */
  private def batchPage(op: Operation, df: DataFrame, token: Int): Seq[Seq[Any]] =
    op.cache.get(token) match {
      case Some(p) => p
      case None if op.pageCount.exists(token >= _) => Nil // past end-of-stream
      case None =>
        if (op.iter == null || token < op.nextPageIdx) {
          // first fetch, or a token older than the retention window: restart
          import scala.jdk.CollectionConverters._
          op.iter = df.toLocalIterator().asScala
          op.nextPageIdx = 0
          op.cache.clear()
        }
        var page: Seq[Seq[Any]] = Nil
        // after a restart pageCount is already known — stop at it, not at token
        while (op.nextPageIdx <= token && op.pageCount.forall(op.nextPageIdx < _)) {
          val buf = new ArrayBuffer[Seq[Any]](pageSize min 1024)
          while (buf.length < pageSize && op.iter.hasNext) buf += op.iter.next().toSeq
          page = buf.toSeq
          op.cache.put(op.nextPageIdx, page)
          while (op.cache.size > retainedPages) op.cache.remove(op.cache.head._1)
          if (!op.iter.hasNext) op.pageCount = Some(op.nextPageIdx + 1)
          op.nextPageIdx += 1
        }
        op.retainedBytes = op.cache.valuesIterator.map(estimateBytes).sum
        if (op.nextPageIdx > token) op.cache.getOrElse(token, page) else Nil
    }

  private implicit class OpCols(op: Operation) {
    def resultColumns: Seq[String] = op.result match {
      case Finished(df) => df.columns.toSeq
      case _ => Seq("result")
    }
  }

  /** In-memory export — the reference's export action
    * (renderer/index.ts:243-288). The returned String necessarily holds the
    * whole result; use [[exportCsvTo]] for large results. */
  def exportCsv(opHandle: String): String = {
    val (cols, rows) = drain(opHandle)
    Results.toCsv(cols, rows)
  }

  def exportJsonLines(opHandle: String): Seq[String] = {
    val (cols, rows) = drain(opHandle)
    Results.toJsonLines(cols, rows)
  }

  /** File export that streams page-by-page: at any instant the driver holds
    * one page plus the lazy iterator's retention window — the export path a
    * `SELECT * FROM <huge table>` must take. */
  def exportCsvTo(opHandle: String, path: java.nio.file.Path): Long = {
    val op = operations.getOrElse(opHandle,
      throw new IllegalStateException(s"Operation does not exist: $opHandle"))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      op.result match {
        case StreamingOp(_, buffer, cols) =>
          // a stream has no EOS — export one ring-buffer snapshot
          val rows = buffer.snapshot._2.map(_.toSeq)
          w.write(Results.toCsv(cols, rows)); w.write("\n")
          rows.size.toLong
        case _ =>
          var n = 0L
          var page = fetchResults(opHandle, 0)
          w.write(Results.toCsv(page.columns, page.rows)) // header + first page
          w.write("\n")
          n += page.rows.size
          while (!page.eos && page.nextToken.isDefined) {
            page = fetchResults(opHandle, page.nextToken.get)
            if (page.rows.nonEmpty) {
              // headerless page render — re-splitting rendered text on line
              // breaks would corrupt quoted values containing \r/\n
              w.write(Results.toCsvRows(page.rows))
              w.write("\n")
              n += page.rows.size
            }
          }
          n
      }
    } finally w.close()
  }

  private def drain(opHandle: String): (Seq[String], Seq[Seq[Any]]) = {
    val op = operations.getOrElse(opHandle,
      throw new IllegalStateException(s"Operation does not exist: $opHandle"))
    op.result match {
      case StreamingOp(_, buffer, cols) =>
        (cols, buffer.snapshot._2.map(_.toSeq))
      case _ =>
        val out = ArrayBuffer.empty[Seq[Any]]
        var page = fetchResults(opHandle, 0)
        out ++= page.rows
        while (!page.eos && page.nextToken.isDefined) {
          page = fetchResults(opHandle, page.nextToken.get)
          out ++= page.rows
        }
        (page.columns, out.toSeq)
    }
  }

  def cancelOperation(opHandle: String): Unit =
    operations.get(opHandle).foreach {
      _.result match {
        case StreamingOp(job, _, _) => Jobs.stop(job)
        case _ => ()
      }
    }

  def closeOperation(opHandle: String): Unit =
    operations.remove(opHandle).foreach {
      _.result match {
        case StreamingOp(job, _, _) =>
          // a CURRENT_WATERMARK op owns a shadow temp view: stop the query
          // first, then drop the view (dropping it under a live query would
          // fail its next batch); other streaming ops keep running, as
          // before — cancelOperation is the explicit stop
          wmShadows.remove(job).foreach { case (sp, shadow) =>
            Jobs.stop(job)
            try sp.catalog.dropTempView(shadow) catch { case _: Exception => () }
          }
        case _ => ()
      }
    }
}
