package graft.engine

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CREATE TABLE ... WITH ('connector'= ...) binding layer — the reference's
  * whole I/O surface (SURVEY.md §2.1; corpus F:11-71, F:622-720).
  *
  * A Flink CREATE TABLE is a connector binding, not a data copy. We parse the
  * DDL (columns incl. computed/`METADATA FROM`/watermark/PK/PARTITIONED BY,
  * plus the WITH option map) and keep the binding in a registry that every
  * session shares. No session holds a copy: a reference resolves at analysis
  * time ([[CatalogRelations]]) to the DataFrame [[materializeDF]] builds:
  *   - `batchDF`  — bounded read (filesystem formats, datagen with
  *     number-of-rows, values);
  *   - `streamDF` — readStream (datagen→rate with synthesized typed columns,
  *     filesystem→file stream, kafka→kafka source with metadata columns);
  *   - `writer`   — sink side (print→console, blackhole→noop,
  *     filesystem→file sink, kafka/upsert-kafka→kafka; upsert via PK).
  *
  * Watermarks (`WATERMARK FOR c AS c - INTERVAL 'n' U`) become
  * `withWatermark`; computed columns become projections; metadata columns map
  * to the Spark source's metadata fields (Kafka exposes timestamp/partition/
  * offset natively).
  */
object TableEnv {

  final case class ColumnDef(
      name: String, sparkType: String,
      computed: Option[String] = None,
      metadataFrom: Option[String] = None)

  final case class Binding(
      name: String,
      cols: Seq[ColumnDef],
      watermark: Option[(String, String)], // (column, "n unit")
      primaryKey: Seq[String],
      partitionedBy: Seq[String],
      options: Map[String, String],
      temporary: Boolean,
      // DISTRIBUTED BY (cols) INTO n BUCKETS (FLIP-376, grammar keyword):
      // maps to a Spark bucketed external table — co-located, shuffle-free
      // joins between tables bucketed the same way
      distribution: Option[(Seq[String], Int)] = None) {
    def connector: String = options.getOrElse("connector", "")
    def format: String = options.getOrElse("format", "parquet")
    def schemaDdl: String =
      cols.filter(c => c.computed.isEmpty && c.metadataFrom.isEmpty)
        .map(c => s"`${c.name}` ${c.sparkType}").mkString(", ")
  }

  /** binding registry by lowercase name, shared by every session the way
    * Flink catalogs are shared across gateway sessions. */
  private val registry = TrieMap.empty[String, Binding]

  /** Serializes namespace-claiming DDL across gateway sessions (see
    * Gateway.NamespaceDdlRe): claims are check-then-act over two
    * registries, so they must not interleave. putIfAbsent below stays as
    * a second line of defense for direct TableEnv callers. */
  val ddlLock = new Object

  def bindings: Map[String, Binding] = registry.toMap
  def lookup(name: String): Option[Binding] = registry.get(name.toLowerCase)
  def drop(name: String): Boolean = registry.remove(name.toLowerCase).isDefined
  def clear(): Unit = { registry.clear(); views.clear() }

  // ------------------------------------------------- views + ALTER TABLE --

  /** A catalog view: the original Flink text for SHOW CREATE VIEW
    * (reference F:77-90) and the text it materializes from. The latter is
    * the body wrapped in a projection of the columns resolved at CREATE
    * VIEW time when they are unambiguous — Flink stores the EXPANDED query
    * (CatalogView.expandedQuery), so a `SELECT *` view must not grow
    * columns when the underlying table later evolves — else the body. */
  final case class CatalogView(sql: String, matSql: String)

  /** Catalog views by lowercase name, shared by every session (Flink
    * semantics). TEMPORARY views are not here: they belong to the gateway
    * session that created them. */
  private val views = TrieMap.empty[String, CatalogView]
  /** Registers a catalog view. The registry holds no TEMPORARY view — those
    * belong to their gateway session. */
  def registerView(name: String, sql: String, materializeSql: Option[String] = None): Unit =
    views.put(name.toLowerCase, CatalogView(sql, materializeSql.getOrElse(sql)))
  /** The text to materialize a catalog view from. */
  def viewMatSql(name: String): Option[String] = views.get(name.toLowerCase).map(_.matSql)
  /** The original Flink text of a catalog view. */
  def viewDef(name: String): Option[String] = views.get(name.toLowerCase).map(_.sql)
  def dropView(name: String): Boolean = views.remove(name.toLowerCase).isDefined
  /** Catalog views: name → materialization text. Every session resolves
    * these at analysis ([[CatalogRelations]]); SHOW TABLES and SHOW VIEWS
    * list them. */
  def catalogViews: Map[String, String] =
    views.iterator.map { case (n, v) => n -> v.matSql }.toMap

  // The ALTER verbs below are read-modify-write on the shared registry:
  // two concurrent alters of one table would otherwise both read the same
  // base and the second put would silently DROP the first edit (a lost
  // ALTER ADD — r14 race audit). The gateway already routes all DDL under
  // ddlLock; taking the same reentrant monitor here extends the guarantee
  // to direct TableEnv callers, like putIfAbsent does for creates.

  /** ALTER TABLE t SET ('k'='v', ...) on a binding (F:96-98): merge
    * options; the next analysis in any session reads with them. */
  def alterOptions(name: String, opts: Map[String, String]): Binding = ddlLock.synchronized {
    val b = lookup(name).getOrElse(
      throw new IllegalArgumentException(s"Unknown binding: $name"))
    val nb = b.copy(options = b.options ++ opts)
    registry.put(nb.name, nb)
    nb
  }

  /** ALTER TABLE t ADD/MODIFY/DROP on a binding (FLIP-273 schema evolution:
    * column definitions incl. computed/METADATA forms and FIRST/AFTER
    * position, WATERMARK, PRIMARY KEY). `rest` is the raw text after the
    * verb — a parenthesized list or a single item. Metadata-only, like
    * Flink: existing files are re-read under the new schema (a missing
    * parquet column reads NULL; an incompatible MODIFY surfaces at scan
    * time). Every refusal is a named error. */
  def alterSchema(spark: SparkSession, name: String, verb: String, rest0: String): Binding = ddlLock.synchronized {
    val b = lookup(name).getOrElse(
      throw new IllegalArgumentException(s"Unknown binding: $name"))
    val rest = rest0.trim
    val items =
      if (rest.startsWith("(") && rest.endsWith(")"))
        splitTop(rest.substring(1, rest.length - 1)).map(_.trim).filter(_.nonEmpty)
      else Seq(rest)
    require(items.nonEmpty, s"empty ALTER TABLE ${verb.toUpperCase} list")

    val PosRe = """(?is)^(.*?)\s+(?:(FIRST)|AFTER\s+(`[^`]+`|\w+))\s*$""".r
    val PkItemRe = """(?is)^(?:CONSTRAINT\s+[\w`]+\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)(?:\s+NOT\s+ENFORCED)?\s*$""".r
    val ColItemRe = """(?s)^(`[^`]+`|\w+)\s+(.+)$""".r

    def parseCol(item0: String): (ColumnDef, Option[Either[Unit, String]]) = {
      // Either[Unit, String]: Left(())=FIRST, Right(c)=AFTER c
      val (item, pos) = item0 match {
        case PosRe(body, first, after) =>
          (body.trim, Some(if (first != null) Left(()) else Right(after.replace("`", "").toLowerCase)))
        case _ => (item0.trim, None)
      }
      val cd = item match {
        case MetadataRe(n, t, from, _) =>
          ColumnDef(n.replace("`", ""), mapType(t),
            metadataFrom = Some(Option(from).getOrElse(n.replace("`", ""))))
        case ComputedRe(n, e) if !item.toUpperCase.contains(" METADATA") =>
          ColumnDef(n.replace("`", ""), "", computed = Some(FlinkDialect.rewrite(e)))
        case ColItemRe(n, t) => ColumnDef(n.replace("`", ""), mapType(t))
        case _ => throw new IllegalArgumentException(
          s"cannot parse column definition '$item' in ALTER TABLE ${verb.toUpperCase}")
      }
      (cd, pos)
    }
    def insertAt(cols: Seq[ColumnDef], cd: ColumnDef,
        pos: Option[Either[Unit, String]]): Seq[ColumnDef] = pos match {
      case None => cols :+ cd
      case Some(Left(())) => cd +: cols
      case Some(Right(after)) =>
        val i = cols.indexWhere(_.name.toLowerCase == after)
        require(i >= 0, s"AFTER column '$after' does not exist in '$name'")
        (cols.take(i + 1) :+ cd) ++ cols.drop(i + 1)
    }

    var cols = b.cols
    var wm = b.watermark
    var pk = b.primaryKey
    // csv rows are POSITIONAL: evolving the physical column LAYOUT (ADD at
    // any position — old rows then carry the wrong token count — DROP, or a
    // MODIFY that repositions / crosses physical↔computed) makes every
    // pre-evolution file unreadable, or worse silently misassigns
    // same-typed columns (r14 probe: even ADD-at-end reads
    // MALFORMED_CSV_RECORD). Refuse by name while data exists. In-place
    // retypes re-parse text and stay governed by retypeCompatible; computed/
    // METADATA/watermark/PK edits are projection-level and always fine.
    lazy val csvLayoutFrozen = b.connector == "filesystem" &&
      b.format == "csv" && hasDataFiles(spark, b.options("path"))
    def refuseCsvLayout(what: String): Nothing = throw new IllegalArgumentException(
      s"'$name' is a csv binding with existing data — csv rows bind by " +
        s"POSITION, so $what would misread every pre-evolution file; " +
        "rewrite the data (INSERT OVERWRITE into a table declared with the " +
        "new layout) instead (in-place retypes, computed/METADATA columns, " +
        "WATERMARK and PRIMARY KEY can still be altered)")
    items.foreach { item =>
      // whitespace-normalized for keyword checks: PkItemRe/WmItemRe accept
      // arbitrary whitespace (PRIMARY\nKEY), so the guards below must too
      val up = item.trim.toUpperCase.replaceAll("\\s+", " ")
      // a jdbc binding's physical schema comes from the DATABASE at read
      // time, so a plain-column edit here would be a silent no-op (or a
      // phantom column that fails at scan) — refuse by name; computed/
      // METADATA columns, watermark and PK are projection-level and fine
      def physicalDrop = cols.find(_.name.equalsIgnoreCase(item.replace("`", "").trim))
        .exists(c => c.computed.isEmpty && c.metadataFrom.isEmpty)
      if (b.connector == "jdbc" &&
          !up.startsWith("WATERMARK") && !up.contains("PRIMARY KEY") &&
          (if (verb.equalsIgnoreCase("drop")) physicalDrop
           else parseColSafe(item).exists(c => c.computed.isEmpty && c.metadataFrom.isEmpty)))
        throw new IllegalArgumentException(
          s"'$name' is a jdbc binding — its physical columns come from the " +
            "database schema; ALTER the database table instead (computed/" +
            "METADATA columns, WATERMARK and PRIMARY KEY can be altered here)")
      verb.toLowerCase match {
        case "add" if up.startsWith("WATERMARK") =>
          require(wm.isEmpty, s"'$name' already has a watermark — use ALTER TABLE MODIFY")
          wm = Some(parseWatermarkItem(item, WmItemRe, WmBoundRe))
        case "modify" if up.startsWith("WATERMARK") =>
          require(wm.isDefined, s"'$name' has no watermark — use ALTER TABLE ADD")
          wm = Some(parseWatermarkItem(item, WmItemRe, WmBoundRe))
        case "drop" if up.startsWith("WATERMARK") =>
          require(wm.isDefined, s"'$name' has no watermark to drop")
          wm = None
        case "add" if PkItemRe.findFirstIn(item).isDefined =>
          require(pk.isEmpty, s"'$name' already has a primary key")
          val PkItemRe(ks) = item: @unchecked
          pk = ks.split(",").map(_.trim.replace("`", "")).toSeq
          pk.foreach(k => require(cols.exists(_.name.equalsIgnoreCase(k)),
            s"PRIMARY KEY column '$k' does not exist in '$name'"))
        case "drop" if up.startsWith("PRIMARY KEY") =>
          require(pk.nonEmpty, s"'$name' has no primary key to drop")
          pk = Nil
        case "add" =>
          val (cd, pos) = parseCol(item)
          require(!cols.exists(_.name.equalsIgnoreCase(cd.name)),
            s"column '${cd.name}' already exists in '$name'")
          if (cd.computed.isEmpty && cd.metadataFrom.isEmpty && csvLayoutFrozen)
            refuseCsvLayout(s"adding physical column '${cd.name}'")
          cols = insertAt(cols, cd, pos)
        case "modify" =>
          val (cd, pos) = parseCol(item)
          val i = cols.indexWhere(_.name.equalsIgnoreCase(cd.name))
          require(i >= 0, s"column '${cd.name}' does not exist in '$name'")
          // retype guard (r14): a filesystem binding's files keep the OLD
          // physical type — a retype the format's reader can't convert
          // succeeds here but poisons every later read (parquet
          // PARQUET_COLUMN_DATA_TYPE_MISMATCH, ORC/json/csv decode errors)
          // or silently corrupts values (avro date/decimal). Refuse by name
          // while data exists; the probed compatibility matrix is in
          // retypeCompatible.
          val old = cols(i)
          val physToPys = old.computed.isEmpty && old.metadataFrom.isEmpty &&
            cd.computed.isEmpty && cd.metadataFrom.isEmpty
          val oldPhysical = old.computed.isEmpty && old.metadataFrom.isEmpty
          val newPhysical = cd.computed.isEmpty && cd.metadataFrom.isEmpty
          if ((oldPhysical || newPhysical) && (oldPhysical != newPhysical ||
              (pos.isDefined && oldPhysical)) && csvLayoutFrozen)
            refuseCsvLayout(s"repositioning or re-kinding column '${cd.name}'")
          if (b.connector == "filesystem" && physToPys &&
              !old.sparkType.equalsIgnoreCase(cd.sparkType)) {
            val fmt = if (cdcFormats(b.format)) "json" else b.format
            if (!retypeCompatible(fmt, old.sparkType, cd.sparkType) &&
                hasDataFiles(spark, b.options("path")))
              throw new IllegalArgumentException(
                s"cannot MODIFY '${cd.name}' from ${old.sparkType} to " +
                  s"${cd.sparkType}: existing ${b.format} files hold the old " +
                  s"physical type and the ${b.format} reader cannot convert " +
                  "it — later reads would fail or silently corrupt; rewrite " +
                  "the data (INSERT OVERWRITE into a table declared with the " +
                  "new type) instead")
          }
          cols = insertAt(cols.patch(i, Nil, 1), cd,
            pos.orElse(if (i == 0) Some(Left(()))
              else Some(Right(cols(i - 1).name.toLowerCase))))
        case "drop" =>
          val n = item.replace("`", "").trim
          require(ColItemRe.findFirstIn(item).isEmpty,
            s"cannot parse '$item' as a column name in ALTER TABLE DROP")
          val i = cols.indexWhere(_.name.equalsIgnoreCase(n))
          require(i >= 0, s"column '$n' does not exist in '$name'")
          wm.foreach { case (wc, _) => require(!wc.equalsIgnoreCase(n),
            s"column '$n' carries the watermark — drop the watermark first") }
          require(!pk.exists(_.equalsIgnoreCase(n)),
            s"column '$n' is part of the primary key — drop the constraint first")
          require(!b.partitionedBy.exists(_.equalsIgnoreCase(n)),
            s"column '$n' is a partition column and cannot be dropped")
          require(!b.distribution.exists(_._1.exists(_.equalsIgnoreCase(n))),
            s"column '$n' is a bucketing column and cannot be dropped")
          val refRx = ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(n) + "(?![\\w`])").r
          cols.filter(c => c.computed.exists(e => refRx.findFirstIn(e).isDefined))
            .foreach(c => throw new IllegalArgumentException(
              s"column '$n' is referenced by computed column '${c.name}' — drop that first"))
          if (cols(i).computed.isEmpty && cols(i).metadataFrom.isEmpty && csvLayoutFrozen)
            refuseCsvLayout(s"dropping physical column '$n'")
          require(cols.exists(c => !c.name.equalsIgnoreCase(n) &&
              c.computed.isEmpty && c.metadataFrom.isEmpty),
            s"cannot drop the last physical column of '$name'")
          cols = cols.patch(i, Nil, 1)
        case v => throw new IllegalArgumentException(s"unsupported ALTER TABLE verb '$v'")
      }
    }
    // a bucketed binding reads through its saved catalog table — keep that
    // table's schema in step for plain appended columns; anything else on a
    // bucketed binding would silently diverge from the saved files, refuse
    if (b.distribution.isDefined && spark.catalog.tableExists(bucketTableName(b))) {
      require(verb.equalsIgnoreCase("add") &&
          items.forall(i => parseColSafe(i).exists(c => c.computed.isEmpty && c.metadataFrom.isEmpty)),
        s"'$name' is DISTRIBUTED BY (bucketed): only plain ALTER TABLE ADD " +
          "columns are supported; MODIFY/DROP require rewriting the table")
      val newPlain = cols.drop(b.cols.length)
        .filter(c => c.computed.isEmpty && c.metadataFrom.isEmpty)
      if (newPlain.nonEmpty)
        spark.sql(s"ALTER TABLE ${bucketTableName(b)} ADD COLUMNS (" +
          newPlain.map(c => s"`${c.name}` ${c.sparkType}").mkString(", ") + ")")
    }
    val nb = b.copy(cols = cols, watermark = wm, primaryKey = pk)
    registry.put(nb.name, nb)
    nb
  }

  private val PlainColRe = """(?s)^(`[^`]+`|\w+)\s+(.+)$""".r

  private def parseColSafe(item: String): Option[ColumnDef] = {
    val body = """(?is)^(.*?)\s+(?:FIRST|AFTER\s+(?:`[^`]+`|\w+))\s*$""".r
      .findFirstMatchIn(item).map(_.group(1)).getOrElse(item).trim
    body match {
      case MetadataRe(n, t, from, _) => Some(ColumnDef(n.replace("`", ""), mapType(t),
        metadataFrom = Some(Option(from).getOrElse(n.replace("`", "")))))
      case ComputedRe(n, e) if !body.toUpperCase.contains(" METADATA") =>
        Some(ColumnDef(n.replace("`", ""), "", computed = Some(e)))
      case PlainColRe(n, t) =>
        Some(ColumnDef(n.replace("`", ""), mapType(t)))
      case _ => None
    }
  }

  private def parseWatermarkItem(item: String, wmRe: scala.util.matching.Regex,
      boundRe: scala.util.matching.Regex): (String, String) = {
    val m = wmRe.findFirstMatchIn(item).getOrElse(throw new IllegalArgumentException(
      s"cannot parse '$item' — expected WATERMARK FOR col AS col - INTERVAL 'n' UNIT"))
    val colName = m.group(1).replace("`", "")
    m.group(2).trim match {
      case boundRe(base, v, unit) =>
        // Flink rejects a rowtime expression whose base column differs from
        // the FOR column (WATERMARK FOR ts AS other - INTERVAL …) — so do we,
        // instead of silently watermarking the FOR column
        require(base.replace("`", "").trim.equalsIgnoreCase(colName),
          s"unsupported watermark expression '${m.group(2).trim}' — the " +
            s"expression must be based on the watermark column '$colName' " +
            "(use col - INTERVAL 'n' UNIT)")
        (colName, s"$v ${FlinkDialect.unitName(unit)}")
      case e if e.replace("`", "").equalsIgnoreCase(colName) ||
          e.toUpperCase.startsWith("SOURCE_WATERMARK") => (colName, "0 seconds")
      case e => throw new IllegalArgumentException(
        s"unsupported watermark expression '$e' — use col - INTERVAL 'n' UNIT")
    }
  }

  /** ALTER TABLE t RENAME TO t2 on a binding. */
  def rename(spark: SparkSession, from: String, to: String): Binding = ddlLock.synchronized {
    val b = lookup(from).getOrElse(
      throw new IllegalArgumentException(s"Unknown binding: $from"))
    val nb = b.copy(name = to.toLowerCase)
    // a bucketed binding's data lives in the saved catalog table
    // graft_bucket_<name> — carry it to the new name or the renamed
    // binding silently degrades to unbucketed reads (Exchange reappears)
    if (b.distribution.isDefined && spark.catalog.tableExists(bucketTableName(b)))
      spark.sql(s"ALTER TABLE ${bucketTableName(b)} RENAME TO ${bucketTableName(nb)}")
    registry.remove(b.name)
    registry.put(nb.name, nb)
    nb
  }

  /** A binding's source could not be read: names the binding and its
    * connector, and carries the cause. */
  final class ReadError(val binding: String, val connector: String, cause: Throwable)
    extends RuntimeException(s"cannot read table '$binding' (connector '$connector'): " +
      Results.rootCauseMessage(cause), cause)

  /** The DataFrame a binding resolves to (batch or streaming per its
    * connector nature), built fresh for each analysis; None for sink-only
    * connectors. A failed read raises [[ReadError]]. */
  def materializeDF(spark: SparkSession, b: Binding): Option[DataFrame] = {
    def read(f: => DataFrame) =
      try Some(f) catch { case e: Exception => throw new ReadError(b.name, b.connector, e) }
    b.connector match {
      case "datagen" if !b.options.contains("number-of-rows") => read(streamDF(spark, b))
      case "filesystem" | "datagen" | "values" | "jdbc" => read(batchDF(spark, b))
      case "kafka" | "upsert-kafka" => read(streamDF(spark, b))
      // CDC sources are changelog streams first (Flink's CLI view of them);
      // batchDF gives the snapshot when a bounded read is wanted
      case c if c.endsWith("-cdc") => read(streamDF(spark, b))
      case _ => None
    }
  }

  // ------------------------------------------------------------- parsing --

  private val HeaderRe =
    """(?is)^CREATE\s+(TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s*\(""".r
  private val PartitionedRe = """(?is)PARTITIONED\s+BY\s*\(([^)]*)\)""".r
  // FLIP-376: DISTRIBUTED BY [HASH|RANGE] (cols) [INTO n BUCKETS], or the
  // keyless DISTRIBUTED INTO n BUCKETS (falls back to the primary key).
  // Word-anchored and requiring BY/INTO so identifiers like
  // `distributed_day` (or a comment containing the word) can't trip it.
  private val DistributedRe =
    ("""(?is)(?<![\w`])DISTRIBUTED\s+(?:BY\s+(?:(?:HASH|RANGE)\s*)?\(([^)]*)\)""" +
      """(?:\s+INTO\s+(\d+)\s+BUCKETS)?|INTO\s+(\d+)\s+BUCKETS)""").r
  private val WithRe = """(?is)WITH\s*\((.*)\)\s*$""".r

  /** Scan a balanced-paren block starting at `open` (index of '('), respecting
    * single-quoted strings; returns (inner, indexAfterClose). */
  private def balancedBlock(s: String, open: Int): (String, Int) = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' =>
          i += 1
          while (i < s.length && s.charAt(i) != '\'') i += 1
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(open + 1, i), i + 1)
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException("Unbalanced parentheses in DDL")
  }

  def isCreateTableWith(stmt: String): Boolean = {
    val s = stmt.trim.toUpperCase
    s.startsWith("CREATE TABLE") || s.startsWith("CREATE TEMPORARY TABLE")
  }

  /** Split on commas at depth 0 w.r.t. (), quotes, and TYPE generics.
    * '<' only opens a bracket after a generic type keyword (ROW/MAP/ARRAY/
    * MULTISET/STRUCT) or while already inside one — a comparison operator in
    * a computed-column expression (`flag AS qty > 10`) must not shift depth. */
  private def splitTop(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var parens = 0
    var generics = 0
    def beforeIsGenericKeyword: Boolean = {
      val t = cur.toString
      val word = t.reverseIterator.takeWhile(ch => ch.isLetterOrDigit || ch == '_')
        .toSeq.reverse.mkString.toUpperCase
      Set("ROW", "MAP", "ARRAY", "MULTISET", "STRUCT").contains(word)
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\'' =>
          cur += c; i += 1
          while (i < s.length && s.charAt(i) != '\'') { cur += s.charAt(i); i += 1 }
          if (i < s.length) cur += '\''
        case '(' => parens += 1; cur += c
        case ')' => parens -= 1; cur += c
        case '<' =>
          if (generics > 0 || beforeIsGenericKeyword) generics += 1
          cur += c
        case '>' =>
          if (generics > 0) generics -= 1
          cur += c
        case ',' if parens == 0 && generics == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toSeq
  }

  /** Flink type name → Spark DDL type (SURVEY.md §1.2 mapping). */
  /** Can `format`'s reader still decode files written with column type
    * `from` once the declared type becomes `to`? Probed empirically per
    * format (r14, PLANS.md "Retype guard") — anything outside these sets
    * either fails every later read with a raw decoder error or, worse,
    * silently corrupts values (the avro reader decodes DATE days as
    * TIMESTAMP micros and misscales DECIMAL on a scale change). Types are the stored
    * uppercase Spark DDL forms (TIMESTAMP already mapped to TIMESTAMP_NTZ). */
  private[engine] def retypeCompatible(format: String, from0: String, to0: String): Boolean = {
    val from = from0.trim.toUpperCase; val to = to0.trim.toUpperCase
    def base(t: String) = t.takeWhile(_ != '(').trim
    val (bf, bt) = (base(from), base(to))
    def dec(t: String): Option[(Int, Int)] =
      if (base(t) != "DECIMAL") None
      else t.dropWhile(_ != '(').drop(1).takeWhile(_ != ')').split(",") match {
        case Array(p) => Some((p.trim.toInt, 0))
        case Array(p, s) => Some((p.trim.toInt, s.trim.toInt))
        case _ => None
      }
    if (from == to) return true
    val intRank = Map("TINYINT" -> 1, "SMALLINT" -> 2, "INT" -> 3, "BIGINT" -> 4)
    def integral(b: String) = intRank.contains(b)
    val intWiden = integral(bf) && integral(bt) && intRank(bt) > intRank(bf)
    // parquet's vectorized reader upcasts INT32-backed types and FLOAT to
    // DOUBLE, but NOT INT64 (BIGINT/DECIMAL backing) to DOUBLE
    val int32ToDouble = Set("TINYINT", "SMALLINT", "INT", "FLOAT")(bf) && bt == "DOUBLE"
    val dateToTs = bf == "DATE" && (bt == "TIMESTAMP_NTZ" || bt == "TIMESTAMP_LTZ")
    // integer digits must not shrink and scale must not shrink
    val decWiden = (dec(from), dec(to)) match {
      case (Some((p1, s1)), Some((p2, s2))) => s2 >= s1 && p2 - s2 >= p1 - s1
      case _ => false
    }
    val numericish = Set("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE", "DECIMAL")
    format match {
      case "parquet" => intWiden || int32ToDouble || dateToTs || decWiden
      case "orc" =>
        // ORC converts freely within numeric/decimal/string/boolean (a
        // failed parse reads NULL) but refuses date/timestamp conversions
        val fam = numericish + "STRING" + "BOOLEAN"
        fam(bf) && fam(bt)
      case "json" | "csv" =>
        // text re-parses per the declared schema: widening and anything→
        // STRING are safe; narrowing to integral/boolean is data-dependent
        // ("1.5" as INT fails at read) — refuse
        bt == "STRING" ||
          intWiden || dateToTs ||
          (bf == "TIMESTAMP_NTZ" || bf == "TIMESTAMP_LTZ") && bt == "DATE" ||
          numericish(bf) && (bt == "DOUBLE" || bt == "FLOAT" || bt == "DECIMAL")
      case "avro" =>
        // avro schema-resolution promotions only; decimal scale changes and
        // date→timestamp DECODE WRONG VALUES (probed), never allow them
        intWiden || int32ToDouble || integral(bf) && bt == "FLOAT" ||
          bf == "BIGINT" && bt == "DOUBLE" ||
          ((dec(from), dec(to)) match {
            case (Some((p1, s1)), Some((p2, s2))) => s1 == s2 && p2 >= p1
            case _ => false
          })
      case _ => true // no probe data for other formats: keep prior behavior
    }
  }

  /** Any committed data file under `path` (Hadoop FS — works for hdfs:// /
    * s3a:// paths too, not just local dirs)? Metadata (`_spark_metadata`,
    * `_SUCCESS`) and hidden files don't count. */
  // hidden/metadata markers can be a DIRECTORY component, not just the
  // leaf (_spark_metadata/0, _spark_metadata/1.compact, .staging/part-…),
  // so every path segment between the table root and the file counts
  private def hiddenUnder(root: org.apache.hadoop.fs.Path,
      p: org.apache.hadoop.fs.Path): Boolean = {
    var cur = p
    while (cur != null && cur != root) {
      val n = cur.getName
      if (n.startsWith("_") || n.startsWith(".")) return true
      cur = cur.getParent
    }
    false
  }

  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(hp)
    fs.exists(hp) && {
      val it = fs.listFiles(hp, true)
      var found = false
      while (!found && it.hasNext) {
        if (!hiddenUnder(root, it.next().getPath)) found = true
      }
      found
    }
  }

  /** Recursive listing of committed (non-hidden) data files under `root`. */
  private def dataFileStatuses(fs: org.apache.hadoop.fs.FileSystem,
      root0: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = fs.makeQualified(root0)
    if (!fs.exists(root)) return Nil
    val out = ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (!hiddenUnder(root, st.getPath)) out += st
    }
    out.toSeq
  }

  def mapType(t0: String): String = {
    val t = t0.trim
    val up = t.toUpperCase
    // TIMESTAMP_LTZ keeps its instant semantics under Spark's explicit
    // TIMESTAMP_LTZ DDL type. Mapping it to plain TIMESTAMP (pre-r12) made
    // the SHOW CREATE TABLE → CREATE TABLE round-trip non-idempotent: the
    // re-parse hit the TIMESTAMP branch and remapped the instant to
    // wall-clock TIMESTAMP_NTZ (the same drift FlinkDialect's F5 fix
    // removed from query casts). DdlFuzzSpec's D2 generator includes
    // TIMESTAMP_LTZ so the fixpoint contract covers it.
    if (up.startsWith("TIMESTAMP_LTZ")) "TIMESTAMP_LTZ"
    else if (up.startsWith("TIMESTAMP")) "TIMESTAMP_NTZ"
    else if (up.startsWith("ROW<")) "STRUCT<" + splitTop(t.substring(4, t.length - 1)).map { f =>
      f.trim.split("\\s+", 2) match {
        case Array(n, ft) => s"$n: ${mapType(ft)}"
        case _ => throw new IllegalArgumentException(
          s"malformed ROW field '$f' in type '$t0' — expected `name TYPE`")
      }
    }.mkString(", ") + ">"
    // an already-mapped struct (SHOW CREATE TABLE round-trip) passes
    // through verbatim — the default branch would uppercase field names
    else if (up.startsWith("STRUCT<")) t
    else if (up.startsWith("ARRAY<")) "ARRAY<" + mapType(t.substring(6, t.length - 1)) + ">"
    else if (up.startsWith("MULTISET<")) "MAP<" + mapType(t.substring(9, t.length - 1)) + ", INT>"
    else if (up.startsWith("MAP<")) {
      splitTop(t.substring(4, t.length - 1)) match {
        case Seq(k, v) => s"MAP<${mapType(k)}, ${mapType(v)}>"
        case parts => throw new IllegalArgumentException(
          s"malformed MAP type '$t0' — expected MAP<key, value>, " +
            s"got ${parts.size} type argument(s)")
      }
    }
    // RAW('class', 'serializer-snapshot') — Flink's opaque serialized type.
    // Even in Flink, SQL can only carry a RAW value through (no operators
    // apply); the class/snapshot args need that class on the classpath, which
    // a SQL engine doesn't have. BINARY is the faithful SQL-side shape:
    // select it, forward it, hand the bytes back to the owning application.
    else if (up.startsWith("RAW(") || up.startsWith("RAW<")) "BINARY"
    else up match {
      case "VARCHAR" | "CHAR" | "STRING" => "STRING"
      case "BYTES" | "VARBINARY" | "BINARY" => "BINARY"
      case "DEC" | "NUMERIC" => "DECIMAL(10,0)"
      case "INTEGER" => "INT"
      case "TIME" => "STRING" // Flink TIME-of-day: no direct Spark type pre-4.2
      case other => other // INT, BIGINT, DOUBLE, DECIMAL(p,s), DATE, BOOLEAN...
    }
  }

  // Shared by CREATE TABLE and ALTER TABLE: both routes go through
  // parseWatermarkItem so the base-column check (Flink refuses
  // WATERMARK FOR ts AS other - INTERVAL …) applies identically — the
  // CREATE path previously matched any base column and silently
  // watermarked the FOR column instead.
  private val WmItemRe = """(?is)^WATERMARK\s+FOR\s+(`[^`]+`|\w+)\s+AS\s+(.+)$""".r
  private val WmBoundRe = """(?is)^(.*?)-\s*INTERVAL\s+'([^']+)'\s+(\w+)\s*$""".r
  private val PkRe = """(?i)PRIMARY\s+KEY\s*\(([^)]*)\)""".r
  private val MetadataRe = """(?i)(`[^`]+`|\w+)\s+(.+?)\s+METADATA(?:\s+FROM\s+'([^']+)')?(\s+VIRTUAL)?$""".r
  private val ComputedRe = """(?i)(`[^`]+`|\w+)\s+AS\s+(.+)$""".r
  private val OptRe = """'([^']*)'\s*=\s*'([^']*)'""".r

  def parseCreateTable(stmt: String): Binding = {
    val s = stmt.trim.stripSuffix(";").trim
    val m = HeaderRe.findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"Cannot parse CREATE TABLE: ${s.take(120)}"))
    val temporary = m.group(1) != null
    val name = m.group(2).replace("`", "")
    val (body, after) = balancedBlock(s, m.end - 1)
    val tail = s.substring(after)
    val partitionedBy = PartitionedRe.findFirstMatchIn(tail)
      .map(_.group(1).split(",").map(_.trim.replace("`", "")).toSeq).getOrElse(Nil)
    val options = WithRe.findFirstMatchIn(tail)
      .map(w => OptRe.findAllMatchIn(w.group(1)).map(x => x.group(1) -> x.group(2)).toMap)
      .getOrElse(Map.empty)

    var watermark: Option[(String, String)] = None
    var pk: Seq[String] = Nil
    val cols = ArrayBuffer.empty[ColumnDef]
    splitTop(body).foreach { item =>
      item match {
        // clause dispatch needs the full clause shape, not a name prefix:
        // columns legitimately named watermark_ts / primary_color /
        // constraint_id would otherwise match startsWith and be silently
        // dropped (r11, DdlFuzzSpec)
        case w if w.toUpperCase.matches("(?s)WATERMARK\\s+FOR\\b.*") =>
          watermark = Some(parseWatermarkItem(w.trim, WmItemRe, WmBoundRe))
        // both forms: `PRIMARY KEY (id) NOT ENFORCED` and the named-
        // constraint `CONSTRAINT pk PRIMARY KEY (id) NOT ENFORCED` — the
        // latter otherwise fell through to the plain-column branch as a
        // bogus column named CONSTRAINT with the PK silently dropped
        case p if p.toUpperCase.matches(
            "(?s)(PRIMARY\\s+KEY|CONSTRAINT\\s+[\\w`]+\\s+PRIMARY\\s+KEY)\\b.*") =>
          PkRe.findFirstMatchIn(p).foreach(x =>
            pk = x.group(1).split(",").map(_.trim.replace("`", "")).toSeq)
        case MetadataRe(n, t, from, _) =>
          cols += ColumnDef(n.replace("`", ""), mapType(t),
            metadataFrom = Some(Option(from).getOrElse(n.replace("`", ""))))
        case ComputedRe(n, e) if !item.toUpperCase.contains(" METADATA") &&
            item.toUpperCase.contains(" AS ") =>
          cols += ColumnDef(n.replace("`", ""), "",
            computed = Some(FlinkDialect.rewrite(e)))
        case other =>
          // name first: a backtick-quoted identifier may contain spaces,
          // so a whitespace split would truncate it at the first blank
          """(?s)^(`[^`]+`|\w+)\s+(.+)$""".r.findFirstMatchIn(other.trim)
            .foreach(mm =>
              cols += ColumnDef(mm.group(1).replace("`", ""), mapType(mm.group(2))))
      }
    }
    // scan only up to the WITH clause so an option value containing the
    // word "distributed" can't masquerade as the DDL clause
    val preWith = tail.substring(0,
      WithRe.findFirstMatchIn(tail).map(_.start).getOrElse(tail.length))
    val distribution = DistributedRe.findFirstMatchIn(preWith).map { d =>
      val dcols = Option(d.group(1))
        .map(_.split(",").map(_.trim.replace("`", "")).toSeq)
        .getOrElse(pk)
      val buckets = Option(d.group(2)).orElse(Option(d.group(3))).map(_.toInt).getOrElse(8)
      if (dcols.isEmpty) throw new IllegalArgumentException(
        "DISTRIBUTED without columns needs a PRIMARY KEY to bucket by")
      (dcols, buckets)
    }
    Binding(name.toLowerCase, cols.toSeq, watermark, pk, partitionedBy, options,
      temporary, distribution)
  }

  /** Split a trailing `LIKE base (modifiers)` clause off a CREATE TABLE
    * (depth-0 scan — LIKE inside a computed-column expression or a string
    * stays put). Returns (coreStmt, Option(baseName, modifiersUpper)). */
  private def splitLike(stmt: String): (String, Option[(String, String)]) = {
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0
    var i = 0
    while (i < stmt.length) {
      stmt.charAt(i) match {
        case '\'' =>
          i += 1
          while (i < stmt.length && stmt.charAt(i) != '\'') i += 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if depth == 0 && (c == 'L' || c == 'l') &&
            stmt.regionMatches(true, i, "LIKE", 0, 4) &&
            (i + 4 >= stmt.length || !isWordChar(stmt.charAt(i + 4))) &&
            (i == 0 || !isWordChar(stmt.charAt(i - 1))) =>
          val rest = stmt.substring(i + 4).trim.stripSuffix(";").trim
          val m = """(?s)^([\w.`]+)\s*(?:\(\s*(.*?)\s*\))?\s*$""".r.findFirstMatchIn(rest)
          m.foreach { mm =>
            return (stmt.substring(0, i).trim,
              Some((mm.group(1).replace("`", ""),
                Option(mm.group(2)).getOrElse("").toUpperCase)))
          }
          i += 1
        case _ => ()
      }
      i += 1
    }
    (stmt, None)
  }

  /** Execute CREATE TABLE ... WITH: parse and register the binding, which
    * every session then resolves from the registry at analysis time. */
  def createTable(spark: SparkSession, stmt: String): Binding = {
    val (core0, like) = splitLike(stmt.trim.stripSuffix(";"))
    // LIKE form may omit the column block entirely — synthesize an empty one
    val core =
      if ("""(?is)^CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.`]+\s*\(""".r
          .findFirstIn(core0).isDefined) core0
      else core0.replaceFirst("""(?is)^(CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.`]+)""", "$1 ()")
    val parsed = parseCreateTable(core)
    val b = like match {
      case None => parsed
      case Some((baseName, mods)) =>
        // CREATE TABLE ... LIKE base: inherit schema/watermark/PK/options,
        // then apply the new definition on top. Modifier subset: EXCLUDING
        // OPTIONS / CONSTRAINTS / WATERMARKS (INCLUDING ALL is the default;
        // OVERWRITING OPTIONS is the merge we always do)
        val base = lookup(baseName).getOrElse(throw new IllegalArgumentException(
          s"LIKE target is not a binding: $baseName"))
        val exAll = mods.contains("EXCLUDING ALL")
        def ex(kind: String) = exAll || mods.contains(s"EXCLUDING $kind")
        parsed.copy(
          cols = base.cols.filterNot(c => parsed.cols.exists(_.name == c.name)) ++ parsed.cols,
          watermark = parsed.watermark.orElse(if (ex("WATERMARKS")) None else base.watermark),
          primaryKey = if (parsed.primaryKey.nonEmpty) parsed.primaryKey
            else if (ex("CONSTRAINTS")) Nil else base.primaryKey,
          partitionedBy = if (parsed.partitionedBy.nonEmpty) parsed.partitionedBy
            else if (ex("PARTITIONS")) Nil else base.partitionedBy,
          options = (if (ex("OPTIONS")) Map.empty[String, String] else base.options)
            ++ parsed.options,
          distribution = parsed.distribution.orElse(
            if (exAll) None else base.distribution))
    }
    // Flink's conflict semantics: plain CREATE TABLE on an existing object
    // fails, IF NOT EXISTS no-ops (returns the existing binding untouched).
    // Pre-r12 the registry.put silently REPLACED the binding — a session
    // could clobber a table every other session was reading. The registry
    // is name-keyed, so a temporary table cannot shadow a same-named
    // permanent one (documented divergence; views support shadowing).
    val ifNotExists =
      """(?is)^CREATE\s+(?:TEMPORARY\s+)?TABLE\s+IF\s+NOT\s+EXISTS\b""".r
        .findFirstIn(stmt.trim).isDefined
    lookup(b.name).foreach { existing =>
      if (ifNotExists) return existing
      throw new IllegalArgumentException(
        s"Table '${b.name}' already exists — DROP " +
          s"${if (existing.temporary) "TEMPORARY " else ""}TABLE it first " +
          "or use CREATE TABLE IF NOT EXISTS")
    }
    // tables and views share the catalog namespace (Flink refuses the
    // cross-kind CREATE); IF NOT EXISTS no-ops on the existing object
    if (viewDef(b.name).isDefined) {
      if (ifNotExists) return b
      throw new IllegalArgumentException(
        s"A view named '${b.name}' already exists — tables and views " +
          "share the catalog namespace; DROP VIEW it first")
    }
    // re-creating a DISTRIBUTED binding must not inherit a stale bucketed
    // catalog table pointing at a PREVIOUS path — but re-declaring the same
    // DDL over existing data (the normal per-session workflow) must keep the
    // catalog table, or the zero-shuffle bucketing contract silently lapses
    // until the next INSERT. Keep it only when its files live under this
    // binding's path.
    if (b.distribution.isDefined && spark.catalog.tableExists(bucketTableName(b))) {
      val samePath = try {
        val want = new org.apache.hadoop.fs.Path(b.options("path")).toUri.getPath
        val files = spark.table(bucketTableName(b)).inputFiles
        files.nonEmpty && files.forall(f =>
          new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(want))
      } catch { case _: Exception => false }
      if (!samePath) spark.sql(s"DROP TABLE IF EXISTS ${bucketTableName(b)}")
    }
    // 3rd-party connector bundle (reference connector-value list, G:513):
    // no client jar or backing service exists in this environment, so each
    // name fails fast AT DDL TIME with its specific missing-runtime reason
    // (the protobuf-format precedent) instead of a baffling
    // table-not-found at first SELECT
    unavailableConnectors.get(b.connector).foreach { needs =>
      throw new IllegalArgumentException(
        s"connector '${b.connector}' (binding '${b.name}') requires $needs, " +
          "which is not available in this environment. Available connectors: " +
          "filesystem, kafka/upsert-kafka, jdbc, elasticsearch-6/-7 (sink), " +
          "datagen, values, print, blackhole, and the *-cdc family " +
          "(changelog replay).")
    }
    // Flink rejects PK-less upsert-kafka at DDL time — so do we (the sink
    // path double-checks, but first SELECT is too late to learn your DDL
    // was invalid)
    if (b.connector == "upsert-kafka" && b.primaryKey.isEmpty)
      throw new IllegalArgumentException(
        s"'${b.name}': upsert-kafka requires a PRIMARY KEY (it is the Kafka " +
          "record key; log compaction keeps the latest record per key)")
    // atomic claim: the early conflict check fast-fails, but two sessions
    // racing the same CREATE both pass it — the loser must not silently
    // replace the winner's binding
    registry.putIfAbsent(b.name, b).foreach { winner =>
      if (ifNotExists) return winner
      throw new IllegalArgumentException(
        s"Table '${b.name}' already exists — DROP " +
          s"${if (winner.temporary) "TEMPORARY " else ""}TABLE it first " +
          "or use CREATE TABLE IF NOT EXISTS")
    }
    b
  }

  /** Connector → the runtime it needs (G:513 names this environment cannot
    * back). Kept specific per name so the error tells the user exactly
    * what's missing, mirroring the reference toolkit's factory errors. */
  private val unavailableConnectors: Map[String, String] = Map(
    "hive" -> "a Hive metastore and warehouse (Spark hive jars + metastore URI)",
    "hbase-1.4" -> "an HBase 1.4 client and a reachable HBase cluster",
    "hbase-2.2" -> "an HBase 2.2 client and a reachable HBase cluster",
    "kinesis" -> "the AWS Kinesis client and AWS credentials",
    "firehose" -> "the AWS Firehose client and AWS credentials",
    "dynamodb" -> "the AWS DynamoDB client and AWS credentials",
    "pulsar" -> "the Pulsar client and a reachable Pulsar broker",
    "rabbitmq" -> "the RabbitMQ client and a reachable broker",
    "mongodb" -> "the MongoDB driver and a reachable MongoDB server")

  // -------------------------------------------------------------- sources --

  /** Projection applying computed + watermark semantics to a raw source DF. */
  private[graft] def finishSource(df0: DataFrame, b: Binding, stream: Boolean): DataFrame = {
    var df = df0
    b.cols.filter(_.computed.isDefined).foreach { c =>
      df = df.withColumn(c.name, expr(c.computed.get))
    }
    // project DECLARED column order (Flink semantics: SELECT * follows the
    // DDL, a computed column declared mid-list must not drift to the end
    // just because withColumn appends). Columns the source did not produce
    // (e.g. METADATA on a batch filesystem read) are skipped; undeclared
    // source columns (connector internals) keep their positions at the end.
    locally {
      val declared = b.cols.map(_.name)
        .filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
      val extras = df.columns
        .filterNot(c => b.cols.exists(_.name.equalsIgnoreCase(c))).toSeq
      val want = declared ++ extras
      if (want != df.columns.toSeq) df = df.select(want.map(col): _*)
    }
    b.watermark match {
      case Some((c, delay)) if stream =>
        // Spark event-time watermarks require TimestampType (instant), not
        // TIMESTAMP_NTZ; with the session pinned to UTC the cast is a pure
        // relabeling of the same wall-clock values
        df.withColumn(c, col(c).cast("timestamp")).withWatermark(c, delay)
      case _ => df
    }
  }

  /** Flink format option keys (the grammar's property list, G:508) → Spark
    * DataSource options. Read-side parse-error tolerance maps to
    * DROPMALFORMED (Flink's ignore-parse-errors DROPS the record, it does
    * not null-fill); the default stays FAILFAST-equivalent per format. */
  def formatOptions(b: Binding, forWrite: Boolean = false): Map[String, String] = {
    def flag(k: String) = b.options.get(k).exists(_.equalsIgnoreCase("true"))
    b.format match {
      case "csv" =>
        Map.empty[String, String] ++
          b.options.get("csv.field-delimiter").map("sep" -> _) ++
          b.options.get("csv.quote-character").map("quote" -> _) ++
          (if (flag("csv.disable-quote-character")) Map("quote" -> "") else Map.empty) ++
          b.options.get("csv.escape-character").map("escape" -> _) ++
          (if (flag("csv.allow-comments")) Map("comment" -> "#") else Map.empty) ++
          b.options.get("csv.null-literal").map("nullValue" -> _) ++
          (if (!forWrite)
             Map("mode" -> (if (flag("csv.ignore-parse-errors")) "DROPMALFORMED" else "FAILFAST"))
           else Map.empty)
      case "json" if !forWrite =>
        Map("mode" -> (if (flag("json.ignore-parse-errors")) "DROPMALFORMED" else "FAILFAST"))
      case _ => Map.empty
    }
  }

  /** CDC envelope formats with a decoder here (G:518). */
  val cdcFormats: Set[String] =
    Set("debezium-json", "canal-json", "maxwell-json", "ogg-json")

  /** Parse mode for a CDC changelog read: Flink's `<fmt>.ignore-parse-errors`
    * (default false → fail on a corrupt line). PERMISSIVE would be worse
    * than either: a corrupt envelope silently becomes an all-null row and a
    * null-keyed changelog op (r14 corrupt-bytes fuzz find). */
  private def cdcParseMode(b: Binding): String =
    if (b.options.get(s"${b.format}.ignore-parse-errors").exists(_.equalsIgnoreCase("true")))
      "DROPMALFORMED" else "FAILFAST"

  def batchDF(spark: SparkSession, b: Binding): DataFrame = b.connector match {
    case "filesystem" if cdcFormats(b.format) =>
      val raw = spark.read.format("json").option("mode", cdcParseMode(b))
        .schema(cdcEnvelope(b)).load(b.options("path"))
      finishSource(decodeCdc(raw.select(struct(raw.columns.map(col): _*).as("__e")), b),
        b, stream = false)
    case "filesystem" if b.distribution.isDefined &&
        spark.catalog.tableExists(bucketTableName(b)) =>
      // the catalog table carries the bucketing metadata — reading through it
      // lets equi-joins between same-bucketed tables skip the exchange. The
      // relation cache is per-session, so refresh first: another gateway
      // session may have rewritten the files via INSERT OVERWRITE/DML.
      spark.catalog.refreshTable(bucketTableName(b))
      finishSource(spark.table(bucketTableName(b)), b, stream = false)
    case "filesystem" if b.format == "avro" =>
      finishSource(graft.sources.AvroFiles.read(spark, b.options("path"),
        org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)), b, stream = false)
    case "filesystem" =>
      val r = spark.read.format(b.format).options(formatOptions(b)).schema(
        org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl))
      finishSource(r.load(b.options("path")), b, stream = false)
    case "datagen" =>
      val n = b.options.getOrElse("number-of-rows", "1000").toLong
      finishSource(synthesize(spark.range(n).toDF("__seq"), b), b, stream = false)
    case "values" =>
      // Flink's test connector: rows registered programmatically under a
      // data-id (G:513); no data-id → empty relation with the declared schema
      val schema = org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)
      val rows = b.options.get("data-id").flatMap(valuesData.get).getOrElse(Nil)
      import scala.jdk.CollectionConverters._
      finishSource(spark.createDataFrame(rows.asJava, schema), b, stream = false)
    case "jdbc" =>
      finishSource(spark.read.format("jdbc").options(jdbcOptions(b)).load(),
        b, stream = false)
    case c if c.endsWith("-cdc") =>
      // bounded read over a CDC table = the snapshot phase: fold the
      // changelog to the latest surviving row per key
      val nb = cdcReplayBinding(b)
      val raw = spark.read.format("json").option("mode", cdcParseMode(nb))
        .schema(cdcEnvelope(nb)).load(nb.options("path"))
      val changelog =
        decodeCdc(raw.select(struct(raw.columns.map(col): _*).as("__e")), nb)
      finishSource(cdcSnapshot(changelog, b), b, stream = false)
    case c =>
      throw new IllegalArgumentException(s"connector '$c' is not batch-readable")
  }

  /** `mysql-cdc` / `postgres-cdc` / … family (reference F:706-720; G:513).
    * This container has no database or binlog client, and Flink CDC's own
    * connectors embed Debezium — whose change stream IS debezium-json. The
    * binding therefore replays a debezium-json changelog from the directory
    * named by the `changelog.path` option (a documented emulation knob; the
    * standard hostname/port/database-name/… options are accepted and carried
    * for SHOW CREATE TABLE fidelity). */
  private def cdcReplayBinding(b: Binding): Binding = {
    val path = b.options.getOrElse("changelog.path",
      throw new IllegalArgumentException(
        s"${b.connector} binding '${b.name}': no database client in this " +
          "environment; set 'changelog.path' to a debezium-json changelog " +
          "directory to replay"))
    b.copy(options = b.options + ("format" -> "debezium-json", "path" -> path))
  }

  /** Changelog → current snapshot: latest event per primary key wins (by
    * source timestamp), deletes erase. One hash exchange on the PK — the
    * same shape the 100 TB compaction of any keyed changelog takes. */
  private def cdcSnapshot(changelog: DataFrame, b: Binding): DataFrame = {
    if (b.primaryKey.isEmpty) throw new IllegalArgumentException(
      s"${b.connector} binding '${b.name}' requires PRIMARY KEY NOT ENFORCED")
    latestPerKey(changelog, b.primaryKey)
      .filter(col("__op") =!= "d")
      .drop("__op", "__ts_ms", "__seq")
  }

  /** The winning changelog event per key: latest source timestamp first,
    * then the source sequence (`__seq`, e.g. GoldenGate pos) when the
    * format carries one. An unordered file scan cannot recover arrival
    * order beyond that, so remaining ties resolve DETERMINISTICALLY:
    * a delete outranks a same-timestamp upsert (never resurrect a deleted
    * key from an ambiguous tie), then a value-ordered pick — re-running the
    * same replay always yields the same snapshot. One hash exchange on the
    * PK — the same shape the 100 TB compaction of any keyed changelog
    * takes. Shared by the *-cdc snapshot, the jdbc changelog APPLY and the
    * elasticsearch bulk compaction so the three can't drift. */
  private def latestPerKey(df: DataFrame, pk: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiebreak =
      Seq(col("__ts_ms").desc_nulls_last) ++
        // numeric-safe for digit strings of differing width ("1000" > "999"):
        // longer strings first, then lexicographic
        (if (df.columns.contains("__seq"))
           Seq(length(col("__seq")).desc_nulls_last, col("__seq").desc_nulls_last)
         else Nil) ++
        Seq(when(col("__op") === "d", 0).otherwise(1).asc,
          struct(df.columns.filterNot(pk.contains).map(col): _*).desc)
    df.withColumn("__rn", row_number().over(Window
        .partitionBy(pk.map(col): _*).orderBy(tiebreak: _*)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** data registry for the `values` connector (Flink registers rows under a
    * data-id the same way; it is a test/fixture connector). */
  private val valuesData = TrieMap.empty[String, Seq[org.apache.spark.sql.Row]]
  def registerValues(dataId: String, rows: Seq[org.apache.spark.sql.Row]): Unit =
    valuesData.put(dataId, rows)

  /** Flink jdbc connector options → Spark JDBC source/sink options
    * (corpus F:639-651: url/table-name/username/password/buffer-flush;
    * scan.partition.* → Spark's partitioned parallel read — the 100 TB path:
    * N executors each read a key-range slice instead of one serial cursor). */
  def jdbcOptions(b: Binding): Map[String, String] =
    Map(
      "url" -> b.options.getOrElse("url",
        throw new IllegalArgumentException(s"jdbc binding '${b.name}' requires 'url'")),
      "dbtable" -> b.options.getOrElse("table-name", b.name)) ++
      b.options.get("username").map("user" -> _) ++
      b.options.get("password").map("password" -> _) ++
      b.options.get("driver").map("driver" -> _) ++
      b.options.get("sink.buffer-flush.max-rows").map("batchsize" -> _) ++
      b.options.get("scan.fetch-size").map("fetchsize" -> _) ++
      b.options.get("scan.partition.column").map("partitionColumn" -> _) ++
      b.options.get("scan.partition.num").map("numPartitions" -> _) ++
      b.options.get("scan.partition.lower-bound").map("lowerBound" -> _) ++
      b.options.get("scan.partition.upper-bound").map("upperBound" -> _)

  def streamDF(spark: SparkSession, b: Binding): DataFrame = b.connector match {
    case "datagen" =>
      val rps = b.options.getOrElse("rows-per-second", "1000")
      val raw = spark.readStream.format("rate").option("rowsPerSecond", rps).load()
        .withColumnRenamed("value", "__seq")
      finishSource(synthesize(raw, b), b, stream = true)
    case "filesystem" if cdcFormats(b.format) =>
      val raw = spark.readStream.format("json").option("mode", cdcParseMode(b))
        .schema(cdcEnvelope(b)).load(b.options("path"))
      finishSource(decodeCdc(raw.select(struct(raw.columns.map(col): _*).as("__e")), b),
        b, stream = true)
    case "filesystem" if b.format == "avro" =>
      finishSource(graft.sources.AvroFiles.readStream(spark, b.options("path"),
        org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)), b, stream = true)
    case "filesystem" =>
      val r = spark.readStream.format(b.format).options(formatOptions(b)).schema(
        org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl))
      finishSource(r.load(b.options("path")), b, stream = true)
    case c if c.endsWith("-cdc") =>
      // unbounded read = the incremental phase: surface the changelog rows
      // (__op/__ts_ms ride along; PK sinks APPLY them)
      val nb = cdcReplayBinding(b)
      val raw = spark.readStream.format("json").option("mode", cdcParseMode(nb))
        .schema(cdcEnvelope(nb)).load(nb.options("path"))
      finishSource(
        decodeCdc(raw.select(struct(raw.columns.map(col): _*).as("__e")), nb),
        b, stream = true)
    case "kafka" | "upsert-kafka" =>
      val raw = kafkaSourceOptions(b).foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      finishSource(decodeKafkaRecords(raw, b), b, stream = true)
    case c =>
      throw new IllegalArgumentException(s"connector '$c' is not stream-readable")
  }

  /** Decode kafka records (key/value binary + native metadata columns) into
    * the binding's declared columns. Pure transformation over the source
    * frame, so every format path is testable without a broker.
    *
    * Formats (the grammar's full list, G:518): json, avro, avro-confluent,
    * raw (single physical column), the CDC envelopes (debezium/canal/
    * maxwell/ogg json and debezium-avro-confluent); csv via from_csv.
    * Key decoding: `key.format` + `key.fields` (';'-separated), with
    * `value.fields-include` = ALL (default) | EXCEPT_KEY deciding whether
    * the value payload repeats the key columns. */
  def decodeKafkaRecords(raw: DataFrame, b0: Binding): DataFrame = {
    import org.apache.spark.sql.types.StructType
    // 'value.format' is Flink's alias for 'format' on kafka tables —
    // normalize ONCE so the CDC dispatch, formatOptions (csv.*/json.* keys)
    // and the plain decode all see the same format
    val b = b0.options.get("value.format")
      .map(vf => b0.copy(options = b0.options + ("format" -> vf)))
      .getOrElse(b0)
    if (cdcFormats(b.format))
      return decodeCdc(raw.withColumn("__e",
        from_json(col("value").cast("string"), cdcEnvelope(b))), b)
    if (b.format == "debezium-avro-confluent") {
      val asDbz = b.copy(options = b.options + ("format" -> "debezium-json"))
      return decodeCdc(raw.withColumn("__e",
        graft.sources.AvroFiles.fromAvroValue(col("value"),
          cdcEnvelope(asDbz), confluent = true)), asDbz)
    }
    val dataCols = b.cols.filter(c => c.computed.isEmpty && c.metadataFrom.isEmpty)
    val keyFields = b.options.get("key.fields")
      .map(_.split(";").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exceptKey = b.options.get("value.fields-include")
      .exists(_.equalsIgnoreCase("EXCEPT_KEY"))
    val valueCols =
      if (exceptKey) dataCols.filterNot(c => keyFields.exists(_.equalsIgnoreCase(c.name)))
      else dataCols
    def subSchema(cols: Seq[ColumnDef]): StructType =
      StructType.fromDDL(cols.map(c => s"`${c.name}` ${c.sparkType}").mkString(", "))
    def decode(payload: org.apache.spark.sql.Column, fmt: String,
        cols: Seq[ColumnDef], prefix: String): org.apache.spark.sql.Column = fmt match {
      case "json" =>
        // FAILFAST unless tolerance was asked for — a corrupt message must
        // not silently become an all-null row (e.g. a null-keyed upsert)
        val mode =
          if (b.options.get("json.ignore-parse-errors").exists(_.equalsIgnoreCase("true")))
            "PERMISSIVE" else "FAILFAST"
        from_json(payload.cast("string"), subSchema(cols), Map("mode" -> mode))
      case "csv" =>
        // from_csv parses one value: DROPMALFORMED has no meaning there,
        // tolerate-errors degrades to PERMISSIVE (null-filled row)
        val opts = formatOptions(b).map {
          case ("mode", "DROPMALFORMED") => "mode" -> "PERMISSIVE"
          case kv => kv
        }
        from_csv(payload.cast("string"), subSchema(cols), opts)
      case "avro" =>
        graft.sources.AvroFiles.fromAvroValue(payload, subSchema(cols), confluent = false)
      case "avro-confluent" =>
        graft.sources.AvroFiles.fromAvroValue(payload, subSchema(cols), confluent = true)
      case "raw" =>
        // single physical column: bytes verbatim, or charset-decoded text
        val c = cols match {
          case Seq(only) => only
          case _ => throw new IllegalArgumentException(
            s"format 'raw' requires exactly one physical column, got ${cols.map(_.name)}")
        }
        val charset = b.options.getOrElse(s"$prefix.charset", "UTF-8")
        val v = c.sparkType.toUpperCase match {
          case "STRING" | "VARCHAR" => decode_col(payload, charset)
          case "BYTES" | "BINARY" | "VARBINARY" => payload
          case t => throw new IllegalArgumentException(
            s"format 'raw' supports STRING/BYTES columns, not $t")
        }
        struct(v.cast(c.sparkType).as(c.name))
      case "protobuf" =>
        // hand-rolled wire-format decode, DDL schema as the descriptor
        // (ProtobufWire Scaladoc) — descriptor-needing column types still
        // fail fast with their specific reason inside validate()
        graft.sources.ProtobufWire.fromProtoValue(payload, subSchema(cols))
      case f => throw new IllegalArgumentException(s"unsupported kafka format '$f'")
    }
    // a kafka binding must SAY its format — Binding.format's "parquet"
    // default is for filesystem tables and would produce a baffling error
    val valueFmt = b.options.get("value.format").orElse(b.options.get("format"))
      .getOrElse(throw new IllegalArgumentException(
        s"kafka binding '${b.name}' requires a 'format' (or 'value.format') option"))
    val withValue = raw.withColumn("__d", decode(col("value"), valueFmt, valueCols, "raw"))
    val withKey =
      if (keyFields.isEmpty) withValue
      else {
        // key columns in DECLARED key.fields order — positional formats
        // (csv, avro) bind fields by position, not name
        val keyCols = keyFields.map(kf =>
          dataCols.find(_.name.equalsIgnoreCase(kf)).getOrElse(
            throw new IllegalArgumentException(
              s"'key.fields' names unknown column '$kf'")))
        val keyFmt = b.options.getOrElse("key.format",
          throw new IllegalArgumentException("'key.fields' requires 'key.format'"))
        withValue.withColumn("__k", decode(col("key"), keyFmt, keyCols, "key.raw"))
      }
    val metaCols = b.cols.filter(_.metadataFrom.isDefined)
    withKey.select(
      dataCols.map(c =>
        (if (keyFields.exists(_.equalsIgnoreCase(c.name))) col(s"__k.${c.name}")
         else col(s"__d.${c.name}")).as(c.name)) ++
        metaCols.map(c => col(c.metadataFrom.get).cast(c.sparkType).as(c.name)): _*)
  }

  /** `decode(bytes, charset)` — named to avoid shadowing by the local fn. */
  private def decode_col(c: org.apache.spark.sql.Column, charset: String) =
    org.apache.spark.sql.functions.decode(c, charset)

  /** CDC envelope schema per format: debezium-json (F:42) {before, after,
    * op, ts_ms}; canal-json {data[], old[], type, ts}; maxwell-json {data,
    * old, type, ts} — each with the declared table schema as row images. */
  private def cdcEnvelope(b: Binding): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val payload = StructType.fromDDL(b.schemaDdl)
    b.format match {
      case "debezium-json" => new StructType()
        .add("before", payload).add("after", payload)
        .add("op", StringType).add("ts_ms", LongType)
      case "canal-json" => new StructType()
        .add("data", ArrayType(payload)).add("old", ArrayType(payload))
        .add("type", StringType).add("ts", LongType)
      case "maxwell-json" => new StructType()
        .add("data", payload).add("old", payload)
        .add("type", StringType).add("ts", LongType)
      case "ogg-json" => new StructType() // Oracle GoldenGate (G:518)
        .add("before", payload).add("after", payload)
        .add("op_type", StringType).add("op_ts", StringType)
        .add("current_ts", StringType).add("table", StringType)
        .add("pos", StringType)
        .add("primary_keys", ArrayType(StringType))
      case f => throw new IllegalArgumentException(s"not a CDC format: $f")
    }
  }

  /** Decode a CDC envelope column `__e` into changelog rows: the after image
    * for inserts/updates, the before/deleted image for deletes. The op
    * (debezium letters: c/u/d/r) and source timestamp (millis) ride along as
    * `__op`/`__ts_ms` so a PK sink can APPLY the changelog (delete on d,
    * upsert otherwise); declare `x STRING METADATA FROM 'op'` to surface
    * them as named columns. Kafka's native metadata fields (timestamp/
    * partition/offset) remain addressable. */
  private def decodeCdc(parsed: DataFrame, b: Binding): DataFrame = {
    val dataCols = b.cols.filter(c => c.computed.isEmpty && c.metadataFrom.isEmpty)
    // ogg's op_ts is a STRING the envelope parse can deliver corrupt-but-
    // valid-JSON (the json reader's DROPMALFORMED can't see it): under
    // ignore-parse-errors the whole record drops, Flink-style, instead of
    // the strict cast error (r14 corrupt-bytes fuzz)
    val tolerant = b.options
      .get(s"${b.format}.ignore-parse-errors").exists(_.equalsIgnoreCase("true"))
    def parseTs(c: org.apache.spark.sql.Column) =
      if (tolerant) try_to_timestamp(c) else to_timestamp(c)
    // normalize to (__img STRUCT, __op STRING, __ts_ms LONG) per event row,
    // keeping the source's native columns addressable for metadata
    val rows = b.format match {
      case "debezium-json" =>
        parsed
          .withColumn("__img",
            when(col("__e.op") === "d", col("__e.before")).otherwise(col("__e.after")))
          .withColumn("__op", coalesce(col("__e.op"), lit("r")))
          .withColumn("__ts_ms", col("__e.ts_ms"))
      case "canal-json" =>
        // canal batches rows: one envelope carries data[] (deleted rows are
        // IN data for DELETE); explode keeps this a narrow projection
        parsed.select(col("*"), explode(col("__e.data")).as("__img"))
          .withColumn("__op", canalOp(col("__e.type")))
          .withColumn("__ts_ms", col("__e.ts"))
      case "maxwell-json" =>
        parsed
          .withColumn("__img", col("__e.data"))
          .withColumn("__op", canalOp(col("__e.type")))
          .withColumn("__ts_ms", col("__e.ts") * 1000L) // maxwell ts is seconds
      case "ogg-json" =>
        // GoldenGate: op_type I/U/D, op_ts a "yyyy-MM-dd HH:mm:ss.SSSSSS"
        // source-commit wall-clock string; pos (zero-padded trail position)
        // rides along as __seq — unix_millis truncates op_ts's microseconds,
        // so same-millisecond events need it to order correctly
        parsed
          .withColumn("__img",
            when(upper(col("__e.op_type")) === "D", col("__e.before"))
              .otherwise(col("__e.after")))
          .withColumn("__op",
            when(upper(col("__e.op_type")) === "I", "c")
              .when(upper(col("__e.op_type")) === "U", "u")
              .when(upper(col("__e.op_type")) === "D", "d")
              .otherwise("r"))
          .withColumn("__ts_ms", unix_millis(parseTs(col("__e.op_ts"))))
          .withColumn("__seq", col("__e.pos"))
          // present-but-unparseable op_ts: drop the record under tolerance
          .filter(if (tolerant) col("__e.op_ts").isNull || col("__ts_ms").isNotNull
                  else lit(true))
    }
    val metaCols = b.cols.filter(_.metadataFrom.isDefined).map { c =>
      c.metadataFrom.get match {
        case "op" => col("__op").cast(c.sparkType).as(c.name)
        // ogg-json's own metadata keys first (Flink: table, primary-keys,
        // ingestion-timestamp = current_ts, event-timestamp = op_ts)
        case "table" | "value.table" if b.format == "ogg-json" =>
          col("__e.table").cast(c.sparkType).as(c.name)
        case "primary-keys" | "value.primary-keys" if b.format == "ogg-json" =>
          col("__e.primary_keys").cast(c.sparkType).as(c.name)
        case "ingestion-timestamp" | "value.ingestion-timestamp"
            if b.format == "ogg-json" =>
          parseTs(col("__e.current_ts")).cast(c.sparkType).as(c.name)
        case "ts_ms" | "event-timestamp" | "value.source.timestamp" |
            "value.ingestion-timestamp" | "value.event-timestamp" =>
          timestamp_millis(col("__ts_ms")).cast(c.sparkType).as(c.name)
        case other => col(other).cast(c.sparkType).as(c.name) // kafka native
      }
    }
    rows.select(
      dataCols.map(c => col("__img").getField(c.name).as(c.name)) ++ metaCols ++
        Seq(col("__op"), col("__ts_ms")) ++
        (if (rows.columns.contains("__seq")) Seq(col("__seq")) else Nil): _*)
  }

  /** canal/maxwell type names → debezium op letters. */
  private def canalOp(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(upper(t) === "INSERT", "c")
      .when(upper(t) === "UPDATE", "u")
      .when(upper(t) === "DELETE", "d")
      .otherwise("r")

  /** Flink kafka connector options → Spark kafka source options
    * (G:508 property keys; startup modes G:523). Pure translation so it is
    * testable without the kafka connector jar on the classpath. */
  def kafkaSourceOptions(b: Binding): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" ->
        b.options.getOrElse("properties.bootstrap.servers", "localhost:9092"),
      "subscribe" -> b.options.getOrElse("topic", b.name))
    // timestamp startup goes under startingTimestamp — startingOffsets only
    // accepts earliest/latest/offset-JSON and rejects epoch millis at query
    // start; the two keys are mutually exclusive on the Spark source
    val startup = b.options.get("scan.startup.mode") match {
      case Some("timestamp") => Map("startingTimestamp" ->
        b.options.getOrElse("scan.startup.timestamp-millis",
          throw new IllegalArgumentException(
            "scan.startup.mode=timestamp requires 'scan.startup.timestamp-millis'")))
      case Some("latest-offset") => Map("startingOffsets" -> "latest")
      case Some("specific-offsets") =>
        // Flink 'partition:0,offset:42;partition:1,offset:300' →
        // Spark {"topic":{"0":42,"1":300}}
        val topic = b.options.getOrElse("topic", b.name)
        val pairs = b.options.getOrElse("scan.startup.specific-offsets", "")
          .split(";").filter(_.nonEmpty).map { part =>
            val kv = part.split(",").map(_.trim.split(":", 2))
            val p = kv.find(_(0).equalsIgnoreCase("partition")).map(_(1).trim).getOrElse("0")
            val o = kv.find(_(0).equalsIgnoreCase("offset")).map(_(1).trim).getOrElse("0")
            s""""$p":$o"""
          }
        Map("startingOffsets" -> s"""{"$topic":{${pairs.mkString(",")}}}""")
      case _ => Map("startingOffsets" -> "earliest") // earliest-offset / group-offsets / unset
    }
    base ++ startup ++ b.options.get("properties.group.id").map("kafka.group.id" -> _)
  }

  /** Deterministic typed columns for datagen from a sequence column. */
  private def synthesize(seqDf: DataFrame, b: Binding): DataFrame = {
    // ONE select for all generated columns, not a withColumn per column:
    // each withColumn wraps a new Project and re-analyzes the whole plan,
    // which is quadratic with a full-analyzer constant — a 1000-column
    // datagen DDL took 65 s (5000 columns: hours) before this; as one
    // projection it is milliseconds (r13 wide-DDL probe)
    val gen = b.cols.filter(c => c.computed.isEmpty && c.metadataFrom.isEmpty).map { c =>
      val seed = xxhash64(lit(c.name), col("__seq"))
      val e = c.sparkType match {
        case "STRING" => concat(lit(c.name + "-"), pmod(seed, lit(1000)).cast("string"))
        case "INT" => pmod(seed, lit(b.options.getOrElse(s"fields.${c.name}.max", "1000000").toLong)).cast("int")
        case "BIGINT" => pmod(seed, lit(1000000000L))
        case "DOUBLE" => (pmod(seed, lit(1000000)).cast("double") / 100.0)
        case "BOOLEAN" => pmod(seed, lit(2)) === 1
        case t if t.startsWith("DECIMAL") => (pmod(seed, lit(100000)).cast("double") / 100.0).cast(t)
        case "TIMESTAMP" | "TIMESTAMP_NTZ" | "TIMESTAMP_LTZ" =>
          timestamp_micros((col("__seq") * 1000000L) + lit(1704067200000000L)).cast(
            if (c.sparkType == "TIMESTAMP_NTZ") "timestamp_ntz" else "timestamp")
        case _ => seed.cast("string")
      }
      e.as(c.name)
    }
    // keep any pre-existing raw columns (the rate source's `timestamp` in
    // the streaming path) exactly as the old withColumn loop did, minus the
    // __seq driver and minus names the generated list replaces
    val genNames = b.cols.filter(c => c.computed.isEmpty && c.metadataFrom.isEmpty)
      .map(_.name.toLowerCase).toSet
    val keep = seqDf.columns
      .filter(n => n != "__seq" && !genNames.contains(n.toLowerCase))
      .map(col).toSeq
    seqDf.select(keep ++ gen: _*)
  }

  // ---------------------------------------------------------------- sinks --

  /** True iff `ckpt` already holds a committed streaming offsets log — i.e.
    * a job started against it would RESTART from prior state, not begin
    * fresh. Only an explicit 'checkpoint' option can hit this: the default
    * location embeds a nanoTime-fresh job name. */
  private def hasCommittedOffsets(spark: SparkSession, ckpt: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(ckpt, "offsets")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.exists(hp) && fs.listStatus(hp).nonEmpty
    catch { case _: Exception => false }
  }

  /** A restarted job re-validates its checkpoint in its FIRST micro-batch
    * (offset log replay, state-store schema check) — asynchronously, after
    * the INSERT statement already answered "Job started". If the binding or
    * query evolved between STOP JOB and this start (ALTER changed the state
    * or sink shape), Spark kills the query with a raw state-store error
    * nobody sees. Wait, bounded, for the first commit or the failure; a
    * failure answers the INSERT itself with a NAMED, actionable error. A
    * fresh-checkpoint start never enters this path (zero added latency). */
  private def validateRestart(spark: SparkSession, name: String, sink: String,
      q: org.apache.spark.sql.streaming.StreamingQuery, ckpt: String): Unit = {
    // the state restore validates inside the first EXECUTED batch, which
    // can crunch for minutes on a loaded host — wait while the query is
    // actively working (a 60 s budget returned "Job started" just before
    // the named failure under full-suite load). The conclusive "validated"
    // signal is the checkpoint's COMMITS log advancing: a batch ran end to
    // end through the restored state. Neither a 500 ms idle status (the
    // pre-r16 heuristic — fires during slow initialization with nothing
    // validated, r15 ADVICE) nor recentProgress (Spark emits one no-data
    // progress EVENT per idle interval without executing anything —
    // measured: an idle resume reports batchId n+1 progress while the
    // commits log never moves) proves anything ran. A genuinely data-less
    // resume (nothing to replay, no new data) therefore holds a bounded
    // idle budget and is then released as inconclusive-but-running rather
    // than claimed healthy.
    // Signals are the checkpoint LOGS, not StreamingQueryStatus flags: a
    // continuous-trigger query reports isTriggerActive ~always (each empty
    // trigger is "active"), so a status-based idle detector never fires.
    //  - offsets advancing (or offsets > commits at entry: an uncommitted
    //    replay) = a batch is CONSTRUCTED and executing → wait the full
    //    budget for its commit or failure;
    //  - nothing constructed within the soft budget = inconclusive; release
    //    with the job running (never a long stall on a data-less resume).
    val commitsDir = new org.apache.hadoop.fs.Path(ckpt, "commits")
    val offsetsDir = new org.apache.hadoop.fs.Path(ckpt, "offsets")
    val cfs = commitsDir.getFileSystem(spark.sessionState.newHadoopConf())
    val commits0 = latestLogId(cfs, commitsDir)
    val offsets0 = latestLogId(cfs, offsetsDir)
    def committedSince(): Boolean = latestLogId(cfs, commitsDir) > commits0
    val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
    val softDeadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    var constructed = offsets0 > commits0 // pending replay counts as working
    var validated = false
    while (System.nanoTime() < deadline && q.isActive &&
        q.exception.isEmpty && !validated &&
        (constructed || System.nanoTime() < softDeadline)) {
      validated = committedSince()
      if (!constructed) constructed = latestLogId(cfs, offsetsDir) > offsets0
      Thread.sleep(100)
    }
    q.exception.foreach { e =>
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .take(12).map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}").mkString(" <- ")
      val evolved = """(?is).*(state.*(schema|store)|schema.*compatib|stateful\s+operator|offset\s+(log|seq)|checkpoint).*""".r
        .matches(chain)
      val why =
        if (evolved)
          "the query or schema evolved since the checkpoint was written (an " +
            "ALTER TABLE between STOP JOB and this start changes the state or " +
            "sink shape Spark must restore). Restart from a fresh checkpoint: " +
            s"point the sink's 'checkpoint' option at a new directory (ALTER " +
            s"TABLE $sink SET ('checkpoint'='<new dir>')) and re-run the INSERT"
        else "the first micro-batch after the restart failed"
      throw new IllegalStateException(
        s"Job $name could not restart from its checkpoint ('checkpoint'='$ckpt'): " +
          s"$why. Underlying failure: ${graft.engine.Results.rootCauseMessage(e)}")
    }
  }

  /** Does the sink path already carry a streaming job's commit log?
    * parquet/csv/json/orc file sinks leave `_spark_metadata`; the avro sink
    * leaves batch-id-tagged part files. Either one makes a FRESH-checkpoint
    * job unsafe: Spark's file sink dedups micro-batches by batch id alone,
    * so a new job whose ids restart at 0 silently SKIPS its first batches
    * against the old log (avro: silently overwrites the old batch-0 parts). */
  private def usedStreamingSinkPath(spark: SparkSession, b: Binding): Boolean =
    b.options.get("path").exists { p =>
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      try {
        if (b.format == "avro")
          fs.exists(root) && fs.listStatus(root)
            .exists(_.getPath.getName.matches(""".*-batch-\d+\.avro"""))
        else {
          val meta = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
          fs.exists(meta) && fs.listStatus(meta).nonEmpty
        }
      } catch { case _: Exception => false }
    }

  /** Highest numeric log-entry id in a metadata-log dir ("9", "9.compact"),
    * -1 when absent/empty. */
  private def latestLogId(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long =
    try {
      if (!fs.exists(dir)) -1L
      else fs.listStatus(dir).map(_.getPath.getName)
        .flatMap(n => "^(\\d+)".r.findFirstIn(n)).map(_.toLong)
        .foldLeft(-1L)(math.max)
    } catch { case _: Exception => -1L }

  /** Deterministic start-time preconditions for a streaming write to `b`,
    * shared by startStreamingInsert and the statement-set pre-compile (so a
    * set member that would refuse fails the WHOLE set before any sibling
    * starts). Returns the resume checkpoint when the start would RESUME.
    *
    * File sinks dedup micro-batches by BATCH ID against the sink's own
    * commit log — two divergence cases around that key are silent data
    * loss, so both refuse by name (avro is exempt: its sink is
    * batch-id-tagged files, and its reads list the directory). */
  private[engine] def streamingSinkPreflight(spark: SparkSession, b: Binding): Option[String] = {
    // Bucketed (DISTRIBUTED BY) bindings read through a Spark bucketed
    // catalog table whose zero-Exchange join contract depends on every
    // file carrying bucket metadata. Spark's streaming file sink cannot
    // produce bucketed files, so a streaming INSERT would drop plain parts
    // into the bucketed table's directory — silently WRONG join results on
    // the next co-located read. Refuse by name (r16); batch INSERT writes
    // through saveAsTable and keeps the contract.
    if (b.connector == "filesystem" && b.distribution.isDefined)
      throw new IllegalArgumentException(
        s"'${b.name}': streaming INSERT into a DISTRIBUTED BY table is not " +
          "supported — the streaming file sink cannot produce bucketed " +
          "files, and plain parts inside a bucketed table's directory " +
          "would corrupt its zero-shuffle join contract. Use a batch " +
          "INSERT, or drop DISTRIBUTED BY from the sink")
    val resumeCkpt = b.options.get("checkpoint")
      .filter(p => hasCommittedOffsets(spark, p))
    if (b.connector == "filesystem" && b.format != "avro") {
      val path = new org.apache.hadoop.fs.Path(b.options("path"))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val logPath = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
      resumeCkpt.foreach { ck =>
        // (1) RESUME after the sink log advanced past the checkpoint (a
        // batch INSERT committed to the log, or a foreign job wrote it):
        // the resumed job's next batches would be SKIPPED as "already
        // committed" — refuse by name instead
        val sinkLatest = latestLogId(fs, logPath)
        val ckptLatest = latestLogId(fs,
          new org.apache.hadoop.fs.Path(ck, "offsets"))
        if (sinkLatest > ckptLatest) throw new IllegalStateException(
          s"cannot resume job on '${b.name}' from checkpoint '$ck': the " +
            s"sink's commit log at $logPath advanced to batch $sinkLatest " +
            s"while the checkpoint stops at $ckptLatest (a batch INSERT or " +
            "another job wrote this sink since) — Spark would silently SKIP " +
            "the resumed job's first batches. Restart from a fresh " +
            "checkpoint into a fresh path (ALTER TABLE " +
            s"${b.name} SET ('path'='<new>','checkpoint'='<new>'))")
      }
      if (resumeCkpt.isEmpty && !fs.exists(logPath)) {
        // (2) FRESH start into a dir holding plain batch-written data: the
        // new job's commit log becomes the read index and HIDES every
        // pre-existing file. No log-side reconciliation is safe here —
        // seeding a below-zero batch id gets purged by the log's own
        // compaction cleanup (delayed loss), and any id >= 0 makes the job
        // skip its first batches — so refuse by name.
        val existing = dataFileStatuses(fs, path)
        if (existing.nonEmpty) throw new IllegalStateException(
          s"streaming INSERT into '${b.name}' would create a streaming " +
            s"commit log over a directory already holding ${existing.size} " +
            "batch-written data files — log-aware reads would then HIDE " +
            "those files (silent loss). Stream to a fresh path (ALTER TABLE " +
            s"${b.name} SET ('path'='<new dir>')), or INSERT OVERWRITE the " +
            "old rows through the stream's own sink afterwards")
      }
    }
    if (b.connector == "filesystem" && b.format == "avro") {
      // The avro sink is batch-id-TAGGED part files (no _spark_metadata), so
      // it shares the hazard class of the log cases above in file-name form:
      // a resumed job's batch ids restart after its checkpoint's last batch,
      // and each micro-batch OVERWRITES the part of its id. If the sink dir
      // holds parts with ids BEYOND the checkpoint (a batch INSERT is
      // untagged and safe, but a foreign job's tagged parts are not), the
      // resumed job would silently overwrite that foreign data — refuse by
      // name. O(one dir listing); parts live flat at the sink root.
      val root = new org.apache.hadoop.fs.Path(b.options("path"))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      resumeCkpt.foreach { ck =>
        val partRe = """.*-batch-(\d+)\.avro""".r
        val maxPart =
          try {
            if (!fs.exists(root)) -1L
            else fs.listStatus(root).map(_.getPath.getName)
              .collect { case partRe(id) => id.toLong }
              .foldLeft(-1L)(math.max)
          } catch { case _: Exception => -1L }
        val ckptLatest = latestLogId(fs,
          new org.apache.hadoop.fs.Path(ck, "offsets"))
        if (maxPart > ckptLatest) throw new IllegalStateException(
          s"cannot resume job on '${b.name}' from checkpoint '$ck': the avro " +
            s"sink at '${b.options("path")}' holds batch-tagged parts up to " +
            s"batch $maxPart while the checkpoint stops at $ckptLatest " +
            "(another job wrote this sink since) — the resumed job's " +
            "micro-batches would silently OVERWRITE those parts. Restart " +
            "from a fresh checkpoint into a fresh path (ALTER TABLE " +
            s"${b.name} SET ('path'='<new>','checkpoint'='<new>'))")
      }
    }
    if (b.connector == "filesystem" && resumeCkpt.isEmpty && usedStreamingSinkPath(spark, b))
      throw new IllegalStateException(
        s"streaming INSERT into '${b.name}' would start from a FRESH checkpoint, " +
          s"but its path '${b.options("path")}' already carries a streaming " +
          "commit log from an earlier job. Spark's file sink dedups " +
          "micro-batches by batch id, so this job would silently LOSE its " +
          "first batches against the old log. Either resume the previous job " +
          "exactly-once (set the sink's 'checkpoint' option to the previous " +
          "job's checkpoint directory), or write to a fresh sink: ALTER TABLE " +
          s"${b.name} SET ('path'='<new dir>', 'checkpoint'='<new dir>')")
    resumeCkpt
  }

  /** Streaming writer for a sink binding. Returns a started query name. */
  def startStreamingInsert(spark: SparkSession, b: Binding, df: DataFrame): String = {
    val name = s"${b.name}_${System.nanoTime()}"
    val resumeCkpt = streamingSinkPreflight(spark, b)
    val w = b.connector match {
      case "print" => df.writeStream.format("console")
      case "blackhole" => df.writeStream.format("noop")
      case "filesystem" if b.format == "avro" =>
        df.writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // batchId-tagged part names: a replayed micro-batch re-commits
            // the same files instead of appending duplicates
            graft.sources.AvroFiles.write(batch, b.options("path"),
              tag = Some(s"batch-$batchId")); ()
          }
          .option("checkpointLocation", b.options.getOrElse("checkpoint",
            s"/tmp/graft-ckpt/$name"))
      case "filesystem" => df.writeStream.format(b.format)
        .option("path", b.options("path"))
        .option("checkpointLocation", b.options.getOrElse("checkpoint",
          s"/tmp/graft-ckpt/$name"))
      case "kafka" => df.selectExpr("to_json(struct(*)) AS value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", b.options.getOrElse("properties.bootstrap.servers", "localhost:9092"))
        .option("topic", b.options.getOrElse("topic", b.name))
        .option("checkpointLocation", s"/tmp/graft-ckpt/$name")
      case "upsert-kafka" =>
        // changelog upsert: key by PK, update mode; CDC deletes → tombstones
        val keyed = upsertKafkaRecords(df, b)
        keyed.writeStream.format("kafka").outputMode("update")
          .option("kafka.bootstrap.servers", b.options.getOrElse("properties.bootstrap.servers", "localhost:9092"))
          .option("topic", b.options.getOrElse("topic", b.name))
          .option("checkpointLocation", s"/tmp/graft-ckpt/$name")
      case "jdbc" =>
        // streaming jdbc sink = per-microbatch buffered write (the analog of
        // Flink's buffer-flush); PK bindings upsert, others append
        df.writeStream.outputMode(if (b.primaryKey.nonEmpty) "update" else "append")
          .foreachBatch { (batch: DataFrame, _: Long) => batchInsert(spark, b, batch) }
          .option("checkpointLocation", s"/tmp/graft-ckpt/$name")
      case "elasticsearch-6" | "elasticsearch-7" =>
        // per-microbatch bulk flush, one compacted action per key per batch
        // (the connector's own bulk-flush buffering)
        df.writeStream.outputMode(if (b.primaryKey.nonEmpty) "update" else "append")
          .foreachBatch { (batch: DataFrame, _: Long) => batchInsert(spark, b, batch) }
          .option("checkpointLocation", s"/tmp/graft-ckpt/$name")
      case c => throw new IllegalArgumentException(s"connector '$c' is not stream-writable")
    }
    val q = w.queryName(name).start()
    Jobs.register(name, q,
      sinkPath = if (b.connector == "filesystem") b.options.get("path") else None)
    // SHOW JOBS keeps the failed job visible (status FAILED) either way;
    // the throw below additionally answers THIS statement with the reason
    resumeCkpt.foreach(ck => validateRestart(spark, name, b.name, q, ck))
    name
  }

  /** elasticsearch-6/7 sink (reference F:653-662): there is no cluster to
    * talk to in this container, so the sink emits exactly what the connector
    * would put on the wire — the bulk-API NDJSON stream: an action line
    * (`{"index":{"_index":…,"_id":…}}`, or `{"delete":…}` for changelog
    * deletes) followed by the document source line. The stream spools to the
    * `path` option (default `spark-warehouse/elasticsearch/<index>`); with a
    * PRIMARY KEY the _id is the delimiter-joined key (Flink's
    * `document-id.key-delimiter`, default "_") and each batch is compacted
    * to one action per key (latestPerKey ordering); every flush lands in a
    * monotonically-named `bulk-*` subdirectory, so replaying the spool in
    * lexicographic path order reproduces the index state. */
  def esBulkRecords(df: DataFrame, b: Binding): DataFrame = {
    val idx = b.options.getOrElse("index", b.name)
    val delim = b.options.getOrElse("document-id.key-delimiter", "_")
    val isCdc = df.columns.contains("__op")
    if (isCdc && b.primaryKey.isEmpty) throw new IllegalArgumentException(
      s"${b.connector} sink '${b.name}': a changelog (CDC) input requires " +
        "PRIMARY KEY NOT ENFORCED (upsert mode) — deletes need a document id")
    val compacted =
      if (b.primaryKey.isEmpty) df
      else if (isCdc && df.columns.contains("__ts_ms")) latestPerKey(df, b.primaryKey)
      else dedupPerKey(df, b.primaryKey)
    val data = compacted.drop("__op", "__ts_ms", "__seq")
    val dataCols = data.columns.map(c => s"`$c`").mkString(", ")
    val docId = concat_ws(delim, b.primaryKey.map(c => col(c).cast("string")): _*)
    val action = (verb: String) =>
      if (b.primaryKey.isEmpty) // no PK → server-side auto _id
        to_json(struct(struct(lit(idx).as("_index")).as(verb)))
      else to_json(struct(struct(lit(idx).as("_index"), docId.as("_id")).as(verb)))
    val value =
      if (isCdc)
        when(compacted("__op") === "d", action("delete"))
          .otherwise(concat(action("index"), lit("\n"),
            expr(s"to_json(struct($dataCols))")))
      else concat(action("index"), lit("\n"), expr(s"to_json(struct($dataCols))"))
    compacted.select(value.as("value"))
  }

  /** Monotonic bulk-flush sequence (epoch-millis seeded so restarts of the
    * same JVM-per-engine deployment keep ordering across sessions). */
  private val esBulkSeq =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000L)

  private def esSpoolPath(b: Binding): String =
    b.options.getOrElse("path",
      s"spark-warehouse/elasticsearch/${b.options.getOrElse("index", b.name)}")

  /** upsert-kafka record shape: (key = PK json, value = row json, or a NULL
    * tombstone for changelog deletes) — Kafka log compaction then retains
    * exactly the latest version per key, which IS Flink's upsert-kafka
    * contract. Pure transformation so it is testable without a broker. */
  def upsertKafkaRecords(df: DataFrame, b: Binding): DataFrame = {
    // Flink rejects PK-less upsert-kafka DDL, and so must we: with an empty
    // PK every record keys as '{}' and log compaction retains exactly ONE
    // record for the whole topic — silent near-total data loss
    if (b.primaryKey.isEmpty) throw new IllegalArgumentException(
      s"'${b.name}': upsert-kafka requires a PRIMARY KEY (the Kafka record " +
        "key; log compaction keeps the latest record per key)")
    val data = df.drop("__op", "__ts_ms", "__seq")
    val dataCols = data.columns.map(c => s"`$c`").mkString(", ")
    val value =
      if (df.columns.contains("__op"))
        when(col("__op") === "d", lit(null).cast("string"))
          .otherwise(expr(s"to_json(struct($dataCols))"))
      else expr(s"to_json(struct($dataCols))")
    df.select(
      expr(s"to_json(struct(${b.primaryKey.map(c => s"`$c`").mkString(", ")}))").as("key"),
      value.as("value"))
  }

  /** Batch INSERT INTO / INSERT OVERWRITE a bound sink. */
  /** Catalog identifier for a DISTRIBUTED binding's bucketed external table
    * (prefixed so the binding's own temp-view name can't shadow it). */
  def bucketTableName(b: Binding): String = s"graft_bucket_${b.name}"

  /** Positional alignment of an INSERT source frame to the binding's
    * physical schema (Flink INSERT semantics). The writer must record the
    * DECLARED column names — parquet/orc readers match by name, so a frame
    * whose columns keep the query's names (`SELECT id, w, 'g2'` → id, w,
    * g2) would write files the evolved-schema read silently NULL-fills
    * (r14 find: the streaming INSERT and INSERT OVERWRITE routes skipped
    * this; the column-list route already aligned). */
  def alignInsert(b: Binding, df: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)
    require(df.columns.length == schema.length,
      s"INSERT into ${b.name}: ${df.columns.length} columns for " +
        s"${schema.length} declared")
    df.toDF(schema.map(_.name): _*)
      .select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  def batchInsert(spark: SparkSession, b: Binding, df: DataFrame,
      overwrite: Boolean = false): Unit = b.connector match {
    case "filesystem" if b.format == "avro" =>
      // guarded BEFORE the bucketed/partitioned branches: those call
      // df.write.format("avro"), which doesn't exist on this classpath
      if (b.distribution.isDefined) throw new IllegalArgumentException(
        s"'${b.name}': DISTRIBUTED BY is not supported with format 'avro' " +
          "(Spark bucketed tables need a native DataSource format — use parquet/orc)")
      if (b.partitionedBy.nonEmpty) throw new IllegalArgumentException(
        s"'${b.name}': PARTITIONED BY is not supported with format 'avro' " +
          "in this build — use parquet/orc for partitioned layouts")
      graft.sources.AvroFiles.write(df, b.options("path"), overwrite)
    case "filesystem" if b.distribution.isDefined =>
      // DISTRIBUTED BY → Spark bucketed external table at the binding's
      // path: rows hash to buckets on the distribution key and each bucket
      // is sorted, so equi-joins/aggregations between tables bucketed the
      // same way read co-located and skip the shuffle entirely
      val (cols, n) = b.distribution.get
      val w = df.write.format(b.format)
        .option("path", b.options("path"))
        .bucketBy(n, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*)
        .mode(if (overwrite) "overwrite" else "append")
      (if (b.partitionedBy.nonEmpty) w.partitionBy(b.partitionedBy: _*) else w)
        .saveAsTable(bucketTableName(b))
    case "filesystem" =>
      val path = new org.apache.hadoop.fs.Path(b.options("path"))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val logPath = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
      def hasSinkLog =
        try fs.exists(logPath) && fs.listStatus(logPath).nonEmpty
        catch { case _: Exception => false }
      // A dir a STREAMING job wrote carries a FileStreamSink commit log, and
      // Spark's batch reads over such a dir are LOG-AWARE: they read only
      // the files the log lists. A plain batch append would write files no
      // read ever sees — silent data loss (r15 probe). Overwrite resets the
      // dir, so drop the stale log with it; append commits the new files to
      // the log as the next batch so log-aware readers see them.
      //
      // Neither is safe while a streaming job is ACTIVELY writing the same
      // path: the file sink treats batchId <= latest-in-log as already
      // committed, so a batch append that advances the log makes the RUNNING
      // stream silently SKIP its next micro-batches, and an overwrite
      // deletes the log out from under it — refuse by name (r15 ADVICE; the
      // preflight refusals only cover stopped/resumed jobs). The refusal
      // deliberately does NOT require the log to exist yet: a just-started
      // writer commits its log momentarily, which would then hide a plain
      // append's files just the same.
      Jobs.activeWriterOf(b.options("path")).foreach { job =>
        throw new IllegalStateException(
          s"batch INSERT into '${b.name}' refused: streaming job '$job' is " +
            s"actively writing '${b.options("path")}'. Spark's file sink " +
            "dedups micro-batches by batch id against the sink's commit " +
            "log, so " +
            (if (overwrite) "an OVERWRITE deleting that log"
             else "a batch append advancing that log") +
            " would make the running stream silently LOSE its next " +
            s"micro-batches. STOP JOB '$job' first, or INSERT through the " +
            "stream's own source instead")
      }
      val appendingToLog = !overwrite && hasSinkLog
      if (overwrite && hasSinkLog) fs.delete(logPath, true)
      if (appendingToLog) {
        import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSinkLog, SinkFileStatus}
        // Stage the write in a hidden dir INSIDE the sink (same filesystem,
        // so the moves are metadata renames), then move exactly the written
        // files into place and commit those names to the sink log —
        // O(written files) driver work. The pre-r16 implementation diffed
        // two full recursive listings of the sink dir, which on a long-lived
        // 100x-scale streaming sink (millions of files) turned a rare-but-
        // legal batch append into a driver stall (r15 verdict #3).
        val staging = new org.apache.hadoop.fs.Path(path,
          s".graft-batch-staging-${java.util.UUID.randomUUID()}")
        try {
          val w = df.write.format(b.format)
            .options(formatOptions(b, forWrite = true)).mode("overwrite")
          (if (b.partitionedBy.nonEmpty) w.partitionBy(b.partitionedBy: _*) else w)
            .save(staging.toString)
          val stagingQ = fs.makeQualified(staging)
          val moved = dataFileStatuses(fs, staging).map { st =>
            // preserve partition subdirs: move by staging-relative path
            val rel = stagingQ.toUri.relativize(st.getPath.toUri).getPath
            val dest = new org.apache.hadoop.fs.Path(path, rel)
            Option(dest.getParent).foreach(fs.mkdirs)
            require(fs.rename(st.getPath, dest),
              s"could not move staged batch file ${st.getPath} to $dest")
            fs.getFileStatus(dest)
          }
          if (moved.nonEmpty) {
            val log = new FileStreamSinkLog(
              FileStreamSinkLog.VERSION, spark, logPath.toString)
            val entries = moved.map(st => SinkFileStatus(st)).toArray
            // a FOREIGN-process writer may still claim the same batch id —
            // add() refuses an existing id, so walk forward a few slots
            var id = log.getLatestBatchId().getOrElse(-1L) + 1
            var committed = false
            var tries = 0
            while (!committed && tries < 16) {
              committed = log.add(id, entries)
              if (!committed) { id += 1; tries += 1 }
            }
            require(committed, s"could not commit batch-appended files to " +
              s"'${b.name}'s streaming sink log at $logPath after 16 attempts")
          }
        } finally fs.delete(staging, true)
      } else {
        val w = df.write.format(b.format).options(formatOptions(b, forWrite = true))
          .mode(if (overwrite) "overwrite" else "append")
        (if (b.partitionedBy.nonEmpty) w.partitionBy(b.partitionedBy: _*) else w)
          .save(b.options("path"))
      }
    case "print" => df.show(numRows = 20, truncate = false)
    case "blackhole" => df.write.format("noop").mode("overwrite").save()
    case "elasticsearch-6" | "elasticsearch-7" =>
      // each flush — the overwrite base INCLUDED — lands in its own
      // monotonically-named subdirectory so "replay the spool in
      // lexicographic order" really reproduces the index state across
      // batches. (Writing the overwrite base at the spool ROOT would break
      // the contract: root 'part-*' sorts AFTER 'bulk-*' subdirs, so a
      // base written after appends would replay LAST and clobber them.)
      if (overwrite) {
        val root = new org.apache.hadoop.fs.Path(esSpoolPath(b))
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) fs.delete(root, true) // overwrite resets the index
      }
      val bulkDir = f"${esSpoolPath(b)}/bulk-${esBulkSeq.incrementAndGet()}%016d"
      esBulkRecords(df, b).write.mode("overwrite").text(bulkDir)
    case "jdbc" =>
      val opts = jdbcOptions(b)
      if (b.primaryKey.nonEmpty && !overwrite) {
        val isCdc = df.columns.contains("__op")
        val data = df.drop("__op", "__ts_ms", "__seq")
        // ensure the table exists (empty append creates it), then PK-upsert;
        // one row per key per batch (changelog semantics: latest write wins,
        // and delete-then-insert would otherwise keep every duplicate)
        data.limit(0).write.format("jdbc").options(opts).mode("append").save()
        if (isCdc) {
          // changelog APPLY: keep only the winning event per key
          // (latestPerKey ordering), delete on d, upsert otherwise
          val latest =
            if (df.columns.contains("__ts_ms")) latestPerKey(df, b.primaryKey)
            else dedupPerKey(df, b.primaryKey)
          jdbcUpsert(latest.filter(col("__op") =!= "d").drop("__op", "__ts_ms", "__seq"),
            b.primaryKey, opts)
          jdbcDelete(latest.filter(col("__op") === "d").select(b.primaryKey.map(col): _*),
            b.primaryKey, opts)
        } else
          jdbcUpsert(dedupPerKey(df, b.primaryKey), b.primaryKey, opts)
      } else {
        // align nullability to the DECLARED schema: a VALUES-sourced frame
        // carries non-nullable columns, and an overwrite would recreate the
        // database table with NOT NULL everywhere — later inserts of a
        // legitimate NULL (e.g. a column-list INSERT) would then fail
        val clean = df.drop("__op", "__ts_ms", "__seq")
        val declared = org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)
        val out =
          if (clean.schema.fields.forall(_.nullable)) clean
          else spark.createDataFrame(clean.rdd,
            org.apache.spark.sql.types.StructType(clean.schema.fields.map(f =>
              f.copy(nullable =
                declared.find(_.name.equalsIgnoreCase(f.name)).forall(_.nullable)))))
        out.write.format("jdbc").options(opts)
          .mode(if (overwrite) "overwrite" else "append").save()
      }
    case c => throw new IllegalArgumentException(s"connector '$c' is not batch-writable")
  }

  /** One row per key, chosen DETERMINISTICALLY (max over all column values):
    * dropDuplicates keeps whichever row a task sees first, so re-running the
    * same upsert could persist different values; a value-ordered pick cannot.
    * (Batch relations are unordered — when the caller has a real event order
    * it should carry __ts_ms, which takes precedence in the CDC path.) */
  private def dedupPerKey(df: DataFrame, pk: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(pk.contains)
    if (others.isEmpty) df.dropDuplicates(pk)
    else df.groupBy(pk.map(col): _*)
      .agg(max(struct(others.map(col): _*)).as("__r"))
      .select(pk.map(col) ++ others.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Changelog delete: remove the given keys (runs per partition like the
    * upsert — a wide delete fans out across executors). */
  private def jdbcDelete(keys: DataFrame, pk: Seq[String], opts: Map[String, String]): Unit = {
    val table = opts("dbtable")
    val url = opts("url")
    val user = opts.get("user")
    val password = opts.get("password")
    val driver = opts.get("driver")
    keys.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      driver.foreach(Class.forName)
      val props = new java.util.Properties()
      user.foreach(props.setProperty("user", _))
      password.foreach(props.setProperty("password", _))
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        val qs = Option(conn.getMetaData.getIdentifierQuoteString).map(_.trim).getOrElse("")
        val del = conn.prepareStatement(
          s"DELETE FROM $table WHERE " + pk.map(k => s"$qs$k$qs = ?").mkString(" AND "))
        rows.foreach { r =>
          pk.zipWithIndex.foreach { case (k, i) => del.setObject(i + 1, r.getAs[Any](k)) }
          del.addBatch()
        }
        del.executeBatch(); conn.commit()
      } finally conn.close()
    }
  }

  /** DB-agnostic PK upsert: delete-then-insert batches inside one transaction
    * per partition (MERGE/ON CONFLICT syntax is per-vendor; this shape works
    * on every JDBC database and batches like Flink's buffer-flush.max-rows).
    * Runs on the executors — each partition opens its own connection, so a
    * 1000-partition write is 1000 parallel bulk upserts, not a driver loop. */
  private def jdbcUpsert(df: DataFrame, pk: Seq[String], opts: Map[String, String]): Unit = {
    val cols = df.columns.toSeq
    val table = opts("dbtable")
    val url = opts("url")
    val user = opts.get("user")
    val password = opts.get("password")
    val driver = opts.get("driver")
    val batchSize = opts.getOrElse("batchsize", "1000").toInt
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      driver.foreach(Class.forName)
      val props = new java.util.Properties()
      user.foreach(props.setProperty("user", _))
      password.foreach(props.setProperty("password", _))
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        // Spark's JDBC writer quotes column identifiers at CREATE time, so
        // they are case-sensitive — quote with the vendor's own quote string
        val qs = Option(conn.getMetaData.getIdentifierQuoteString).map(_.trim).getOrElse("")
        def quote(c: String) = s"$qs$c$qs"
        val del = conn.prepareStatement(
          s"DELETE FROM $table WHERE " + pk.map(k => s"${quote(k)} = ?").mkString(" AND "))
        val ins = conn.prepareStatement(
          s"INSERT INTO $table (${cols.map(quote).mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})")
        var n = 0
        rows.foreach { r =>
          pk.zipWithIndex.foreach { case (k, i) => del.setObject(i + 1, r.getAs[Any](k)) }
          del.addBatch()
          cols.zipWithIndex.foreach { case (c, i) => ins.setObject(i + 1, r.getAs[Any](c)) }
          ins.addBatch()
          n += 1
          if (n % batchSize == 0) { del.executeBatch(); ins.executeBatch(); conn.commit() }
        }
        del.executeBatch(); ins.executeBatch(); conn.commit()
      } finally conn.close()
    }
  }

  // -------------------------------------------------- UPDATE / DELETE DML --

  sealed trait MergeAction
  final case class MergeUpdate(assignments: Seq[(String, String)]) extends MergeAction
  case object MergeDelete extends MergeAction
  final case class MergeInsert(cols: Seq[String], values: Seq[String]) extends MergeAction
  /** One WHEN clause; `cond` is the optional AND predicate. Clauses apply
    * first-match-wins in declared order, per standard MERGE semantics. */
  final case class MergeClause(matched: Boolean, cond: Option[String], action: MergeAction)

  /** Batch MERGE INTO on a filesystem binding (grammar keyword G: MERGE).
    * The matched side is one left-outer join target×source; each target row
    * takes the first matched clause whose predicate holds (UPDATE rewrites
    * columns, DELETE drops the row); unmatched source rows take the first
    * NOT MATCHED insert clause. The rewrite lands via the same atomic
    * directory swap as UPDATE/DELETE. Standard-SQL cardinality rule
    * enforced: a target row matching more than one source row is an error.
    * SET/INSERT expressions are cast to the target column type with Spark
    * CAST semantics (fractional→integral truncates toward zero).
    * Returns (matched rows affected, rows inserted). */
  def merge(spark: SparkSession, b: Binding, targetAlias: String,
      source: DataFrame, sourceAlias: String, onCond: String,
      clauses: Seq[MergeClause]): (Long, Long) = {
    require(b.connector == "filesystem", s"MERGE unsupported for connector '${b.connector}'")
    val target = batchDF(spark, b)
    val targetCols = target.columns.toSeq
    val t = target.withColumn("__tid", monotonically_increasing_id()).alias(targetAlias)
    val s = source.withColumn("__src_match", lit(true)).alias(sourceAlias)
    val joined = t.join(s, expr(onCond), "left_outer")
    val matchedFlag = col("__src_match").isNotNull

    val matchedClauses = clauses.filter(_.matched)
    // first-match-wins: a when() chain in declared order; 0 = no clause
    val idx = matchedClauses.zipWithIndex.foldLeft(when(lit(false), 0)) {
      case (acc, (cl, i)) =>
        acc.when(matchedFlag && cl.cond.map(expr).getOrElse(lit(true)), i + 1)
    }.otherwise(0)
    // Stage every result column (user SET expressions still see the aliased
    // join here) plus the bookkeeping columns, then materialize ONCE: the
    // cardinality check, touched count and final write would otherwise each
    // re-run the target×source join — and a localCheckpoint any later would
    // drop the alias qualifiers the expressions need.
    val resultCols = targetCols.map { c =>
      val base: org.apache.spark.sql.Column = col(s"$targetAlias.$c")
      matchedClauses.zipWithIndex.foldLeft(base) {
        case (acc, (MergeClause(_, _, MergeUpdate(assigns)), i)) =>
          assigns.collectFirst { case (ac, e) if ac.equalsIgnoreCase(c) => e } match {
            // cast back to the column's type (as the INSERT branch does) so
            // a widening SET expression can't silently rewrite the table
            // with a different on-disk schema
            case Some(e) => when(col("__clause") === i + 1,
              expr(e).cast(target.schema(c).dataType)).otherwise(acc)
            case None => acc
          }
        case (acc, _) => acc
      }.as(c)
    }
    val staged = joined.withColumn("__clause", idx)
      .select(col("__tid") +: matchedFlag.as("__m") +: col("__clause") +: resultCols: _*)
      .localCheckpoint()
    val dup = staged.filter(col("__m")).groupBy(col("__tid")).count()
      .filter(col("count") > 1).limit(1).count()
    require(dup == 0L,
      "MERGE cardinality violation: a target row matches more than one source row")
    val deleteIdx = matchedClauses.zipWithIndex.collect {
      case (MergeClause(_, _, MergeDelete), i) => i + 1 }
    val updated = staged.filter(if (deleteIdx.isEmpty) lit(true)
        else !col("__clause").isin(deleteIdx: _*))
      .select(targetCols.map(col): _*)
    val touched = staged.filter(col("__clause") > 0).count()

    val insertClauses = clauses.filter(!_.matched)
    val unmatchedSrc = s.join(t, expr(onCond), "left_anti")
    val inserts = insertClauses.zipWithIndex.map { case (cl, i) =>
      // earlier insert clauses take precedence: exclude rows already claimed
      val prior = insertClauses.take(i).map(_.cond.map(expr).getOrElse(lit(true)))
        .foldLeft(lit(false))(_ || _)
      val rows = unmatchedSrc.filter(cl.cond.map(expr).getOrElse(lit(true)) && !prior)
      val MergeInsert(cols0, values) = cl.action: @unchecked
      val cols = if (cols0.nonEmpty) cols0 else targetCols
      require(cols.length == values.length,
        s"MERGE INSERT: ${cols.length} columns vs ${values.length} values")
      val byCol = cols.map(_.toLowerCase).zip(values).toMap
      rows.select(targetCols.map { c =>
        val dt = target.schema(c).dataType
        byCol.get(c.toLowerCase).map(e => expr(e).cast(dt))
          .getOrElse(lit(null).cast(dt)).as(c)
      }: _*)
    }
    val insertDF = inserts.reduceOption(_ unionAll _).map(_.localCheckpoint())
    val inserted = insertDF.map(_.count()).getOrElse(0L)
    // union at the RDD level, not Dataset.unionAll: both sides are
    // localCheckpoint()ed LogicalRDDs that carry constraints referencing
    // their ORIGINAL plans' expression ids, and Catalyst's
    // Union.rewriteConstraints throws "key not found: <attr>" on the
    // mismatch when a downstream step (the bucketed swapRewrite's own
    // checkpoint) evaluates the union's constraints. createDataFrame
    // builds a constraint-free scan of the already-materialized rows.
    val result = insertDF match {
      case None => updated
      case Some(ins) => spark.createDataFrame(
        updated.rdd.union(ins.rdd),
        org.apache.spark.sql.types.StructType(
          targetCols.map(c => target.schema(c)).toArray))
    }
    swapRewrite(spark, b, result)
    (touched, inserted)
  }

  /** Batch UPDATE on a binding (corpus F:192). filesystem: read → rewrite →
    * atomic directory swap (never overwrite the files being read — write to
    * a sibling tmp dir, then swap). jdbc: push the statement down to the
    * database — the engine never moves the rows at all. */
  def update(spark: SparkSession, b: Binding,
      assignments: Seq[(String, String)], where: Option[String]): Long = b.connector match {
    case "filesystem" =>
      val df = batchDF(spark, b)
      val pred = where.map(expr).getOrElse(lit(true))
      val touched = df.filter(pred).count()
      val set = assignments.toMap
      // SET expressions evaluate against the OLD row (standard SQL), so the
      // guarded when() per column sees only original values
      val updated = df.select(df.columns.map { c =>
        set.get(c).map(e => when(pred, expr(e)).otherwise(col(c)).as(c)).getOrElse(col(c))
      }.toSeq: _*)
      swapRewrite(spark, b, updated)
      touched
    case "jdbc" =>
      val cols = b.cols.map(_.name)
      ensureJdbcTable(spark, b)
      jdbcExecute(b, qs => {
        val setSql = assignments.map { case (c, e) =>
          s"$qs$c$qs = ${quoteIdentifiers(e, cols, qs)}" }.mkString(", ")
        s"UPDATE ${jdbcOptions(b)("dbtable")} SET $setSql" +
          where.map(w => s" WHERE ${quoteIdentifiers(w, cols, qs)}").getOrElse("")
      })
    case c => throw new IllegalArgumentException(s"UPDATE unsupported for connector '$c'")
  }

  /** Batch DELETE on a binding (corpus F:193). */
  def delete(spark: SparkSession, b: Binding, where: Option[String]): Long = b.connector match {
    case "filesystem" =>
      val df = batchDF(spark, b)
      val pred = where.map(expr).getOrElse(lit(true))
      val touched = df.filter(pred).count()
      swapRewrite(spark, b, df.filter(!pred || pred.isNull))
      touched
    case "jdbc" =>
      ensureJdbcTable(spark, b)
      jdbcExecute(b, qs => s"DELETE FROM ${jdbcOptions(b)("dbtable")}" +
        where.map(w => s" WHERE ${quoteIdentifiers(w, b.cols.map(_.name), qs)}").getOrElse(""))
    case c => throw new IllegalArgumentException(s"DELETE unsupported for connector '$c'")
  }

  /** Rewrite a filesystem binding's data without reading and clobbering the
    * same files: write to a tmp sibling, delete the old dir, move tmp in. */
  private def swapRewrite(spark: SparkSession, b: Binding, df: DataFrame): Unit = {
    if (b.distribution.isDefined) {
      // a DISTRIBUTED binding's data lives in a bucketed catalog table; a
      // plain directory swap would leave files without bucket-id names and
      // silently break the shuffle-free-join contract. Materialize the
      // rewritten rows first (we're overwriting the table being read), then
      // rewrite through the bucketed writer.
      batchInsert(spark, b, df.localCheckpoint(), overwrite = true)
      return
    }
    val path = new org.apache.hadoop.fs.Path(b.options("path"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path.toString + s".rewrite-${System.nanoTime()}")
    val trash = new org.apache.hadoop.fs.Path(path.toString + s".old-${System.nanoTime()}")
    if (b.format == "avro") {
      // no avro DataSource on this classpath — the same gap batchInsert
      // guards; route through the custom writer (materialize first: the
      // rewrite reads the very files it replaces)
      val materialized = df.localCheckpoint()
      graft.sources.AvroFiles.write(materialized, tmp.toString, overwrite = true)
    } else {
      val w = df.write.format(b.format).mode("overwrite")
      (if (b.partitionedBy.nonEmpty) w.partitionBy(b.partitionedBy: _*) else w)
        .save(tmp.toString)
    }
    // move-aside before delete: a crash between the renames leaves the data
    // recoverable in one of the two directories, never gone
    fs.rename(path, trash)
    fs.rename(tmp, path)
    fs.delete(trash, true)
  }

  /** A declared jdbc binding's database table exists only after the first
    * write (Spark's JDBC writer creates on insert) — UPDATE/DELETE against
    * the declared-but-empty table must succeed with 0 rows touched, not
    * fail with the vendor's table-not-found. An empty append creates it. */
  private val ensuredJdbc = TrieMap.empty[(String, String), Unit]

  private def ensureJdbcTable(spark: SparkSession, b: Binding): Unit = {
    // once per (url, table) per JVM — the create-if-missing probe is a full
    // Spark JDBC write job, far too heavy to pay on every UPDATE/DELETE
    val opts = jdbcOptions(b)
    val key = (opts.getOrElse("url", ""), opts.getOrElse("dbtable", b.name))
    if (!ensuredJdbc.contains(key)) {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(b.schemaDdl)
      spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .write.format("jdbc").options(opts).mode("append").save()
      ensuredJdbc.put(key, ())
    }
  }

  /** Execute one DML statement directly on the binding's database; the SQL
    * is built with the vendor's identifier quote string (Spark's JDBC writer
    * quotes column names at CREATE, so unquoted refs would case-fold).
    * Returns the JDBC update count. */
  private def jdbcExecute(b: Binding, mkSql: String => String): Long = {
    val opts = jdbcOptions(b)
    opts.get("driver").foreach(Class.forName)
    val props = new java.util.Properties()
    opts.get("user").foreach(props.setProperty("user", _))
    opts.get("password").foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(opts("url"), props)
    try {
      val qs = Option(conn.getMetaData.getIdentifierQuoteString).map(_.trim).getOrElse("")
      conn.createStatement().executeUpdate(mkSql(qs)).toLong
    } finally conn.close()
  }

  /** Quote every reference to a known column inside an expression fragment
    * (string literals masked first so constants stay untouched). */
  private def quoteIdentifiers(frag: String, cols: Seq[String], qs: String): String = {
    if (qs.isEmpty) return frag
    val lits = ArrayBuffer.empty[String]
    // iterative scan, not a regex — literal length must not drive regex
    // recursion depth (see FlinkDialect.foldLiterals)
    var s = FlinkDialect.foldLiterals(frag) { lit =>
      lits += lit; s"__GRAFT_L${lits.size - 1}__"
    }
    cols.foreach { c =>
      s = s.replaceAll("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(c) + "(?![\\w`])",
        java.util.regex.Matcher.quoteReplacement(s"$qs$c$qs"))
    }
    lits.zipWithIndex.reverse.foreach { case (l, i) => s = s.replace(s"__GRAFT_L${i}__", l) }
    s
  }

  /** SHOW CREATE TABLE for a binding: reconstruct the Flink DDL
    * (objectDetailsProvider.ts:80 renders this for the user). */
  def showCreateTable(b: Binding): String = {
    val cols = b.cols.map {
      case ColumnDef(n, _, Some(e), _) => s"  `$n` AS $e"
      case ColumnDef(n, t, _, Some(m)) => s"  `$n` $t METADATA FROM '$m' VIRTUAL"
      case ColumnDef(n, t, _, _) => s"  `$n` $t"
    }
    val wm = b.watermark.map { case (c, d) => s"  WATERMARK FOR `$c` AS `$c` - INTERVAL '${d.split(" ")(0)}' ${d.split(" ")(1).toUpperCase}" }
    val pk = if (b.primaryKey.nonEmpty)
      Seq(s"  PRIMARY KEY (${b.primaryKey.mkString(", ")}) NOT ENFORCED") else Nil
    val dist = b.distribution.map { case (c, n) =>
      s" DISTRIBUTED BY (${c.mkString(", ")}) INTO $n BUCKETS" }.getOrElse("")
    val part = (if (b.partitionedBy.nonEmpty)
      s" PARTITIONED BY (${b.partitionedBy.mkString(", ")})" else "") + dist
    val opts = b.options.toSeq.sortBy(_._1).map { case (k, v) => s"  '$k' = '$v'" }
    s"CREATE ${if (b.temporary) "TEMPORARY " else ""}TABLE `${b.name}` (\n" +
      (cols ++ wm ++ pk).mkString(",\n") + s"\n)$part WITH (\n" +
      opts.mkString(",\n") + "\n)"
  }
}
