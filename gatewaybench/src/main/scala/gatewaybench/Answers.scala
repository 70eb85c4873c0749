package gatewaybench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Row count plus an order-independent digest: the XOR of the xxhash64 of
  * every row's canonical rendering. Columns are taken in name order, so a
  * result and its reference agree whatever column order each produced. */
final class Digest(columns: Seq[String]) {
  private val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
  var rows = 0L
  var xor = 0L

  def add(row: Seq[Any]): Unit = {
    val sb = new java.lang.StringBuilder()
    order.foreach { i => Digest.render(row(i), sb); sb.append('\u0001') }
    val b = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    xor ^= XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    rows += 1
  }

  def result: (Long, Long) = (rows, xor)
}

object Digest {
  /** One rendering per value, whichever JVM type a path produced it as:
    * numbers by exact decimal value, every timestamp type as local
    * date-time, collections element by element. */
  def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000")
    case s: String => sb.append(s)
    case d: Double => num(java.lang.Double.toString(d), sb)
    case f: Float => num(java.lang.Float.toString(f), sb)
    case n: java.math.BigDecimal => sb.append(n.stripTrailingZeros.toPlainString)
    case n: BigDecimal => sb.append(n.bigDecimal.stripTrailingZeros.toPlainString)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => sb.append(n.toString)
    case t: java.sql.Timestamp => sb.append(t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => sb.append(t.toString)
    case t: java.time.Instant => sb.append(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString)
    case a: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(a))
    case r: Row => sb.append('('); r.toSeq.foreach { x => render(x, sb); sb.append(',') }; sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val s = new java.lang.StringBuilder(); render(k, s); s.append('='); render(x, s); s.toString }
      sb.append(parts.sorted.mkString("{", ",", "}"))
    case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => render(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString)
  }

  private def num(s: String, sb: java.lang.StringBuilder): Unit =
    if (s.contains("Infinity") || s.contains("NaN")) sb.append(s)
    else sb.append(new java.math.BigDecimal(s).stripTrailingZeros.toPlainString)

  def of(df: DataFrame): (Long, Long) = {
    val d = new Digest(df.columns.toSeq)
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala.foreach(r => d.add(r.toSeq))
    d.result
  }
}

/** The answers a client should have received, computed outside the
  * gateway: plain Spark SQL over the same parquet for relational forms, and
  * the engine's oracle-verified `Windows` / `MatchRecognize` builders for
  * window-TVF and CEP forms. */
final class Oracle(root: SparkSession, dataDir: String, cacheDir: java.nio.file.Path) {
  private lazy val spark = {
    val s = root.newSession()
    graft.functions.FlinkFunctions.registerAll(s)
    Mix.fixtureTables.foreach(t => s.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t))
    s
  }
  /** Reference answers depend only on the fixed data and the check, so
    * they are kept on disk, one file per check, and computed once. */
  def expected(c: Check): (Long, Long) = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(c.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val f = cacheDir.resolve(key)
    if (java.nio.file.Files.isRegularFile(f)) {
      val Array(n, x) = java.nio.file.Files.readString(f).trim.split(" ")
      (n.toLong, x.toLong)
    } else {
      val r = Digest.of(frame(c))
      java.nio.file.Files.createDirectories(cacheDir)
      val tmp = cacheDir.resolve(s".$key.tmp")
      java.nio.file.Files.writeString(tmp, s"${r._1} ${r._2}\n")
      java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      r
    }
  }

  /** The reference answers of every check, computed `threads` at a time. */
  def expectedAll(checks: Seq[Check], threads: Int): Map[Check, scala.util.Try[(Long, Long)]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = checks.distinct.map(c => c -> pool.submit(() => scala.util.Try(expected(c))))
      futures.map { case (c, f) => c -> f.get() }.toMap
    } finally pool.shutdown()
  }

  private def events = spark.table("events")

  private def frame(c: Check): DataFrame = c match {
    case Check.Sql(sql) => spark.sql(sql)
    case Check.ScriptSql(_, sql) => spark.sql(sql)
    case Check.Tvf(fn, step, size) =>
      val w = fn match {
        case "tumble" => graft.operators.Windows.tumble(events, "ts", s"$size minutes")
        case "hop" => graft.operators.Windows.hop(events, "ts", s"$step minutes", s"$size minutes")
        case _ => graft.operators.Windows.cumulate(events, "ts", step * 60L, size * 60L)
      }
      w.groupBy("window_start", "window_end", "event_type").agg(count(lit(1)).as("cnt"))
    case Check.Cep(x) =>
      import graft.operators.MatchRecognize._
      graft.operators.MatchRecognize.matchRecognize(
        events, Seq("user_id"), "event_id",
        defines = Seq("A" -> (col("value") < x), "B" -> (col("value") >= x)),
        pattern = parsePattern("A+ B"),
        measures = Seq(
          Measure("start_event", "first", "A", "event_id"),
          Measure("n_low", "count", "A", "*"),
          Measure("high_val", "last", "B", "value")))
    case other => throw new IllegalArgumentException(s"no reference rows for $other")
  }
}
