package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Result-serving helpers — the reference's client-implemented operators
  * (SURVEY.md §2.11): CSV export with RFC-ish quoting
  * (renderer/index.ts:243-282), JSON export (:284-288), metadata row dedup on
  * fetch (flinkClient.ts:326-337), substring filter (:32-38), single-column
  * sort (:41-53) and pagination (:56-69), and server-error root-cause
  * extraction (flinkClient.ts:78-125).
  *
  * These are SERVING-layer utilities: they operate on already-small result
  * pages (the engine caps them via the Gateway pageSize/ring buffer), never
  * on full tables.
  */
object Results {

  /** RFC 4180-style CSV: quote fields containing comma/quote/newline, double
    * embedded quotes; header row first. */
  def toCsv(columns: Seq[String], rows: Seq[Seq[Any]]): String = {
    def cell(v: Any): String = {
      val s = if (v == null) "" else v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    (columns.map(cell) +: rows.map(_.map(cell)))
      .map(_.mkString(",")).mkString("\n")
  }

  /** Rows only, no header — for appending pages to an existing export. */
  def toCsvRows(rows: Seq[Seq[Any]]): String = {
    def cell(v: Any): String = {
      val s = if (v == null) "" else v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    rows.map(_.map(cell).mkString(",")).mkString("\n")
  }

  /** JSON-lines export (one object per row), over already-paged rows like
    * `toCsv` — never hands a full DataFrame to the driver. */
  def toJsonLines(columns: Seq[String], rows: Seq[Seq[Any]]): Seq[String] =
    rows.map { r =>
      columns.zip(r).map { case (c, v) => s"${jsonStr(c)}:${jsonVal(v)}" }
        .mkString("{", ",", "}")
    }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => jsonStr(d.toString) // bare NaN isn't JSON
    case f: Float if f.isNaN || f.isInfinite => jsonStr(f.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
              _: java.math.BigDecimal | _: BigDecimal) => n.toString
    case b: Array[Byte] => jsonStr(java.util.Base64.getEncoder.encodeToString(b))
    case s: Seq[_] => s.map(jsonVal).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, mv) => s"${jsonStr(k.toString)}:${jsonVal(mv)}" }
        .mkString("{", ",", "}")
    case r: Row => toJsonLines(r.schema.fieldNames.toSeq, Seq(r.toSeq)).head
    case other => jsonStr(other.toString)
  }

  /** Metadata-fetch dedup: distinct rows preserving first-seen order
    * (the reference dedups on JSON-stringified rows). */
  def dedupRows(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    rows.foreach { r =>
      val key = r.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")
      if (seen.add(key)) out += r
    }
    out.toSeq
  }

  /** Client-side substring filter across all fields (case-insensitive). */
  def filterRows(rows: Seq[Seq[Any]], needle: String): Seq[Seq[Any]] = {
    val n = needle.toLowerCase
    rows.filter(_.exists(v => v != null && v.toString.toLowerCase.contains(n)))
  }

  /** Client-side single-column sort (renderer/index.ts:41-53): numeric if
    * both values are numbers, else string compare; nulls last in BOTH
    * directions (reversing a nulls-last ascending sort would put nulls
    * first, so the direction flip applies to non-null values only). */
  def sortRows(rows: Seq[Seq[Any]], colIdx: Int, asc: Boolean): Seq[Seq[Any]] = {
    def less(x: Any, y: Any): Boolean = (x, y) match {
      case (a: Number, b: Number) => a.doubleValue() < b.doubleValue()
      case (a, b) => a.toString < b.toString
    }
    rows.sortWith { (a, b) =>
      (a(colIdx), b(colIdx)) match {
        case (null, _) => false // nulls last regardless of direction
        case (_, null) => true
        case (x, y) => if (asc) less(x, y) else less(y, x)
      }
    }
  }

  /** Pagination slice. */
  def page(rows: Seq[Seq[Any]], pageNo: Int, pageSize: Int): Seq[Seq[Any]] =
    rows.slice(pageNo * pageSize, (pageNo + 1) * pageSize)

  /** Root-cause extraction: walk the cause chain, prefer the deepest
    * `Caused by` message (flinkClient.ts:96-125 parses the same out of
    * server stack traces). */
  def rootCauseMessage(e: Throwable): String = {
    var cur = e
    // a ReadError already names its binding and carries the cause's message
    while (cur.getCause != null && cur.getCause != cur && !cur.isInstanceOf[TableEnv.ReadError])
      cur = cur.getCause
    val m = cur.getMessage
    // first NON-EMPTY line: Spark's ParseException message begins with a
    // newline, so taking the literal first line surfaced every parse error
    // as an empty string to the client (r12 route-robustness fuzz finding)
    if (m == null) cur.getClass.getSimpleName
    else m.linesIterator.map(_.trim).find(_.nonEmpty)
      .getOrElse(cur.getClass.getSimpleName)
  }
}
