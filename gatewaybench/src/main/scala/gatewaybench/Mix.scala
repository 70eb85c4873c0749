package gatewaybench

import scala.util.Random

/** What the client does with one generated operation. */
sealed trait Kind
object Kind {
  /** executeStatement, then fetchResults to EOS */
  case object Read extends Kind
  /** executeStatement, then the single result page */
  case object Write extends Kind
  /** executeScript, every handle fetched to EOS */
  case object Script extends Kind
  /** executeStatement, then exportCsvTo a scratch file */
  case object Export extends Kind
}

/** How a result is checked, outside the gateway. */
sealed trait Check
object Check {
  /** The result page must not be an error page. */
  case object NoError extends Check
  /** Same rows as this SQL run by plain Spark over the same parquet. */
  final case class Sql(sql: String) extends Check
  /** Same rows as the `Windows` builder of this window shape. */
  final case class Tvf(fn: String, stepMin: Int, sizeMin: Int) extends Check
  /** Same rows as the `MatchRecognize` builder of the low-run pattern. */
  final case class Cep(threshold: Int) extends Check
  /** SHOW TABLES answers at least one table. A session lists only the
    * bindings it has referenced so far (see README, "Known engine
    * behaviour"), so the fixture names are not all required. */
  case object ListsTables extends Check
  /** DESCRIBE returns one row per declared column. */
  final case class Describes(columns: Int) extends Check
  /** SHOW CREATE TABLE renders the DDL of this table. */
  final case class ShowsCreate(table: String) extends Check
  /** Script cell: every handle error-free, the handle at `idx` checked. */
  final case class ScriptSql(idx: Int, sql: String) extends Check
}

/** One operation of a workload. `cls` is the statement class the per-layer
  * split reports by: select, tvf, cep, meta, script, ddl, dml, export. */
final case class Op(cls: String, kind: Kind, text: String, check: Check) {
  def isWrite: Boolean = kind == Kind.Write
}

/** Seeded workload generators. Everything an operation contains — class
  * order, literals, table names — comes from the seed, so the same seed
  * yields the same operations; the engine only ever sees the generated text.
  * Class proportions are fixed per block, so runs with different seeds do
  * the same mix of work in a different order with different literals. */
object Mix {

  val fixtureTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Column count of each fixture binding, for DESCRIBE checks. */
  val fixtureColumns: Map[String, Int] = Map(
    "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4, "part" -> 6,
    "orders" -> 6, "lineitem" -> 11, "events" -> 6, "documents" -> 5, "embeddings" -> 3)

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val statuses = Seq("F", "O", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Statements per interactive block; a client closes its session and
    * opens a new one after each block. */
  val blockSize = 25

  /** The interactive stream of one client: `blocks` blocks of [[blockSize]]
    * operations: 18 reads (one reads back the block's own table) and 7
    * writes. `scratch` is the directory the written tables live under. */
  def interactive(seed: Long, client: Int, blocks: Int, scratch: String): Seq[Op] = {
    val rnd = new Random(seed * 1000003L + client)
    (0 until blocks).flatMap(b => interactiveBlock(rnd, s"c${client}_b$b", scratch))
  }

  private def interactiveBlock(rnd: Random, tag: String, scratch: String): Seq[Op] = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val reads = (0 until 6).map(select(rnd, _)) ++
      Seq(tvf(rnd, "tumble"), tvf(rnd, "hop"), tvf(rnd, "cumulate"), cep(rnd)) ++
      Seq(
        Op("meta", Kind.Read, "SHOW TABLES", Check.ListsTables),
        { val t = pick(fixtureTables)
          Op("meta", Kind.Read, s"DESCRIBE $t", Check.Describes(fixtureColumns(t))) },
        { val t = pick(fixtureTables)
          Op("meta", Kind.Read, s"SHOW CREATE TABLE $t", Check.ShowsCreate(t)) },
        Op("meta", Kind.Read, "SHOW VIEWS", Check.NoError)) ++
      Seq(scriptCell(rnd, tag)) ++
      Seq(select(rnd, 0), select(rnd, 5))
    // the write group keeps its own order (create before insert before drop)
    // and is spread over the block at seeded positions
    val t = s"w_$tag"
    val m = 2 + rnd.nextInt(6)
    val r = rnd.nextInt(m)
    val filter = s"o_custkey % $m = $r"
    val writes = Seq(
      Op("ddl", Kind.Write,
        s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) " +
          s"WITH ('connector'='filesystem','path'='$scratch/$t','format'='parquet')",
        Check.NoError),
      Op("dml", Kind.Write,
        s"INSERT INTO $t SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE $filter",
        Check.NoError),
      Op("select", Kind.Read, s"SELECT COUNT(*) AS n, SUM(o_orderkey) AS sk FROM $t",
        Check.Sql(s"SELECT COUNT(*) AS n, SUM(o_orderkey) AS sk FROM orders WHERE $filter")),
      Op("ddl", Kind.Write, s"ALTER TABLE $t SET ('sink.parallelism'='${1 + rnd.nextInt(4)}')",
        Check.NoError),
      Op("ddl", Kind.Write,
        s"CREATE VIEW v_$tag AS SELECT o_custkey, COUNT(*) AS n FROM $t GROUP BY o_custkey",
        Check.NoError),
      Op("ddl", Kind.Write, s"DROP VIEW v_$tag", Check.NoError),
      Op("ddl", Kind.Write,
        s"SET 'table.exec.mini-batch.size'='${100 * (1 + rnd.nextInt(9))}'", Check.NoError),
      Op("ddl", Kind.Write, s"DROP TABLE $t", Check.NoError))
    require(reads.size + writes.size == blockSize, s"block of ${reads.size} reads + ${writes.size} writes")
    val shuffled = rnd.shuffle(reads).toIndexedSeq
    val slots = rnd.shuffle((0 until blockSize).toList).take(writes.size).sorted
    val out = Array.ofDim[Op](blockSize)
    slots.zip(writes).foreach { case (i, w) => out(i) = w }
    var next = 0
    for (i <- out.indices if out(i) == null) { out(i) = shuffled(next); next += 1 }
    out.toSeq
  }

  private def select(rnd: Random, template: Int): Op = template match {
    case 0 =>
      val d = f"199${2 + rnd.nextInt(7)}-${1 + rnd.nextInt(12)}%02d-01"
      sqlRead(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty, " +
          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price " +
          s"FROM lineitem WHERE l_shipdate < TIMESTAMP '$d 00:00:00' " +
          "GROUP BY l_returnflag, l_linestatus")
    case 1 =>
      val seg = segments(rnd.nextInt(segments.size))
      sqlRead(
        "SELECT n_name, COUNT(*) AS customers, " +
          "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS balance " +
          s"FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '$seg' " +
          "GROUP BY n_name")
    case 2 =>
      sqlRead(s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        s"WHERE o_custkey = ${1 + rnd.nextInt(1500)}")
    case 3 =>
      sqlRead(s"SELECT p_partkey, p_name, p_retailprice FROM part " +
        s"WHERE p_size = ${1 + rnd.nextInt(50)} ORDER BY p_retailprice DESC, p_partkey LIMIT 10")
    case 4 =>
      sqlRead(s"SELECT ${rnd.nextInt(100)} AS x")
    case _ =>
      val y = 1992 + rnd.nextInt(6)
      sqlRead(s"SELECT o_orderpriority, COUNT(*) AS cnt FROM orders " +
        s"WHERE o_orderdate >= TIMESTAMP '$y-01-01 00:00:00' " +
        s"AND o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00' GROUP BY o_orderpriority")
  }

  private def sqlRead(sql: String): Op = Op("select", Kind.Read, sql, Check.Sql(sql))

  private def tvf(rnd: Random, fn: String): Op = {
    val (step, size) = fn match {
      case "tumble" => val s = Seq(5, 10, 15, 30, 60)(rnd.nextInt(5)); (s, s)
      case "hop" => val s = Seq(5, 10, 15)(rnd.nextInt(3)); (s, 3 * s)
      case _ => val s = Seq(5, 10, 15)(rnd.nextInt(3)); (s, 4 * s)
    }
    val call = fn match {
      case "tumble" => s"TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '$size' MINUTES)"
      case "hop" => s"HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '$step' MINUTES, INTERVAL '$size' MINUTES)"
      case _ => s"CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '$step' MINUTES, INTERVAL '$size' MINUTES)"
    }
    Op("tvf", Kind.Read,
      s"SELECT window_start, window_end, event_type, COUNT(*) AS cnt FROM TABLE($call) " +
        "GROUP BY window_start, window_end, event_type",
      Check.Tvf(fn, step, size))
  }

  private def cep(rnd: Random): Op = {
    val x = 100 * (2 + rnd.nextInt(6))
    Op("cep", Kind.Read, cepSql(x), Check.Cep(x))
  }

  /** Maximal runs of events below `x` closed by one at or above it, per user. */
  def cepSql(x: Int): String =
    "SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY event_id " +
      "MEASURES FIRST(A.event_id) AS start_event, COUNT(A.*) AS n_low, LAST(B.value) AS high_val " +
      "ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW PATTERN (A+ B) " +
      s"DEFINE A AS A.value < $x, B AS B.value >= $x)"

  private def scriptCell(rnd: Random, tag: String): Op = {
    val st = statuses(rnd.nextInt(statuses.size))
    val inner = s"SELECT o_custkey, COUNT(*) AS n FROM orders WHERE o_orderstatus = '$st' GROUP BY o_custkey"
    Op("script", Kind.Script,
      s"CREATE TEMPORARY VIEW sv_$tag AS $inner;\n" +
        s"SELECT COUNT(*) AS custs, SUM(n) AS total FROM sv_$tag;\n" +
        s"DROP TEMPORARY VIEW sv_$tag;",
      Check.ScriptSql(1, s"SELECT COUNT(*) AS custs, SUM(n) AS total FROM ($inner) s"))
  }

  /** One bulk pass: the fixed list of heavy statements, literals and order
    * from the seed. */
  def bulkPass(seed: Long, pass: Int): Seq[Op] = {
    val rnd = new Random(seed * 7919L + pass)
    val y = 1993 + rnd.nextInt(3)
    val slide = Seq(5, 10)(rnd.nextInt(2))
    val q = 300 + rnd.nextInt(200)
    val prio = priorities(rnd.nextInt(priorities.size))
    def sql(cls: String, text: String) = Op(cls, Kind.Read, text, Check.Sql(text))
    val exportSql = "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
      s"WHERE o_orderpriority = '$prio'"
    val cepX = 100 * (3 + rnd.nextInt(4))
    val ops = Seq(
      sql("select",
        "SELECT n_name, YEAR(o_orderdate) AS yr, COUNT(*) AS cnt, " +
          "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS revenue " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
          s"WHERE l_shipdate >= TIMESTAMP '$y-01-01 00:00:00' GROUP BY n_name, YEAR(o_orderdate)"),
      Op("tvf", Kind.Read,
        "SELECT window_start, window_end, event_type, COUNT(*) AS cnt FROM TABLE(HOP(TABLE events, " +
          s"DESCRIPTOR(ts), INTERVAL '$slide' MINUTES, INTERVAL '${3 * slide}' MINUTES)) " +
          "GROUP BY window_start, window_end, event_type",
        Check.Tvf("hop", slide, 3 * slide)),
      Op("cep", Kind.Read, cepSql(cepX), Check.Cep(cepX)),
      sql("pipeline",
        "SELECT h, COUNT(*) AS n FROM (SELECT simhash64(text) AS h FROM documents) d " +
          "GROUP BY h HAVING COUNT(*) > 1"),
      sql("pipeline",
        s"SELECT band, COUNT(*) AS n FROM (SELECT slice(minhash_sig(text, ${4 + rnd.nextInt(3)}, 16), 1, 4) AS band " +
          "FROM documents) d GROUP BY band HAVING COUNT(*) > 1"),
      sql("pipeline",
        "SELECT g, COUNT(*) AS n FROM (SELECT explode(word_ngrams(text, 3)) AS g FROM documents " +
          s"WHERE doc_id <= ${15000 + 1000 * rnd.nextInt(10)}) d " +
          "GROUP BY g HAVING COUNT(*) > 1 ORDER BY n DESC, g LIMIT 500"),
      sql("pipeline",
        "SELECT lang, COUNT(*) AS n, MIN(element_at(q, 1)) AS min_words, MAX(element_at(q, 1)) AS max_words " +
          "FROM (SELECT lang, quality_stats(text) AS q FROM documents) d GROUP BY lang"),
      sql("pipeline",
        "SELECT a.vec_id AS qid, b.vec_id AS cid, vec_dot(a.embedding, b.embedding) AS score " +
          "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id " +
          s"WHERE a.vec_id <= $q AND a.vec_id > ${q - 50} ORDER BY score DESC, qid, cid LIMIT 100"),
      sql("select", "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem"),
      Op("export", Kind.Export, exportSql, Check.Sql(exportSql)))
    rnd.shuffle(ops)
  }

  /** The stream feed of one cycle: `files` files of `perFile` events. A
    * share of events are planned duplicates of an event written up to one
    * second earlier; they carry a later event time, so keep-first dedup must
    * drop them. Returns per file the (event_id, user_id, duplicate) triples. */
  def streamFeed(seed: Long, cycle: Int, files: Int, perFile: Int,
      dupShare: Double): Seq[Seq[(Long, Long, Boolean)]] = {
    val rnd = new Random(seed * 31L + cycle)
    val base = (cycle + 1).toLong * 1000000L
    var next = 0L
    // ids of earlier files only, so a duplicate is always a later arrival
    val recent = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until files).map { _ =>
      val file = (0 until perFile).map { _ =>
        if (recent.nonEmpty && rnd.nextDouble() < dupShare) {
          val id = recent(rnd.nextInt(recent.size))
          (id, 1L + (id % 97), true)
        } else {
          next += 1
          (base + next, 1L + ((base + next) % 97), false)
        }
      }
      recent ++= file.filterNot(_._3).map(_._1)
      if (recent.size > 10 * perFile) recent.remove(0, recent.size - 10 * perFile)
      file
    }
  }

  /** Share of operations whose exact text already appeared earlier. */
  def repeatShare(texts: Seq[String]): Double = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val rep = texts.count(t => !seen.add(t))
    if (texts.isEmpty) 0.0 else rep.toDouble / texts.size
  }
}
