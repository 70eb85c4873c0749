package gatewaybench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic fixture tables in the schema the engine's
  * fixtures use (TPC-H-like star schema plus `events`, `documents`,
  * `embeddings`). Every column is a hash of the row id and a fixed data
  * seed, so a scale factor always yields the same bytes of data. The
  * workload seed does not reach the data: it varies statements and feeds.
  *
  * `manifest.json` records each table's row count and its
  * count + bit_xor(xxhash64(*)) digest and its data files; [[verify]]
  * re-checks the files before a run uses the data. */
object DataGen {
  val dataSeed = 42

  private def rowsOf(sf: Double): Map[String, Long] = {
    def n(base: Double, min: Long) = math.max(min, math.round(base * sf))
    Map("region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000, 15), "supplier" -> n(10000, 10), "part" -> n(200000, 20),
      "orders" -> n(1500000, 150), "events" -> n(1000000, 100),
      "documents" -> n(500000, 50), "embeddings" -> n(500000, 50))
  }

  /** h(k): a seeded 63-bit hash of the row id, one stream per column `k`. */
  private def h(k: Int) = s"abs(xxhash64(id, ${dataSeed * 100 + k}))"

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val r = rowsOf(sf)
    def range(t: String) = spark.range(1, r(t) + 1)
    val nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
      "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
      "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
      "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
    def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ",", ")")
    def pick(xs: Seq[String], k: Int) = s"element_at(${arr(xs)}, cast(${h(k)} % ${xs.size} + 1 as int))"
    // 1992-01-01 .. 1998-08-02 in seconds
    val d0 = 694224000L
    val dSpan = 209606400L
    val vocab = 2000
    Seq(
      "region" -> spark.range(0, 5).selectExpr("cast(id as int) AS r_regionkey",
        s"element_at(${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}, cast(id + 1 as int)) AS r_name"),
      "nation" -> spark.range(0, 25).selectExpr("cast(id as int) AS n_nationkey",
        s"element_at(${arr(nations)}, cast(id + 1 as int)) AS n_name",
        "cast(id % 5 as int) AS n_regionkey"),
      "customer" -> range("customer").selectExpr("id AS c_custkey",
        "format_string('Customer#%09d', id) AS c_name",
        s"cast(${h(1)} % 25 as int) AS c_nationkey",
        s"cast(${h(2)} % 1099999 as double) / 100 - 999.99 AS c_acctbal",
        s"${pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3)} AS c_mktsegment"),
      "supplier" -> range("supplier").selectExpr("id AS s_suppkey",
        "format_string('Supplier#%09d', id) AS s_name",
        s"cast(${h(4)} % 25 as int) AS s_nationkey",
        s"cast(${h(5)} % 1099999 as double) / 100 - 999.99 AS s_acctbal"),
      "part" -> range("part").selectExpr("id AS p_partkey",
        s"concat_ws(' ', ${pick(Seq("almond", "blue", "coral", "drab", "frosted", "ivory", "linen", "navy"), 6)}, " +
          s"${pick(Seq("antique", "burnished", "chiffon", "firebrick", "honeydew", "lace"), 7)}) AS p_name",
        s"format_string('Brand#%d%d', ${h(8)} % 5 + 1, ${h(9)} % 5 + 1) AS p_brand",
        s"${pick(Seq("STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "MEDIUM BRUSHED STEEL",
          "LARGE POLISHED BRASS", "ECONOMY BURNISHED NICKEL", "PROMO PLATED STEEL"), 10)} AS p_type",
        s"cast(${h(11)} % 50 + 1 as int) AS p_size",
        "cast(90000 + (id % 20001) + (id % 1000) * 100 as double) / 100 AS p_retailprice"),
      "orders" -> range("orders").selectExpr("id AS o_orderkey",
        s"${h(12)} % ${r("customer")} + 1 AS o_custkey",
        s"${pick(Seq("F", "O", "P"), 13)} AS o_orderstatus",
        s"cast(${h(14)} % 50000000 + 100000 as double) / 100 AS o_totalprice",
        s"cast(timestamp_seconds($d0 + ${h(15)} % $dSpan) as timestamp_ntz) AS o_orderdate",
        s"${pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 16)} AS o_orderpriority"),
      "lineitem" -> spark.range(0, r("orders") * 4).selectExpr(
        "id div 4 + 1 AS l_orderkey",
        s"${h(17)} % ${r("part")} + 1 AS l_partkey",
        s"${h(18)} % ${r("supplier")} + 1 AS l_suppkey",
        "cast(id % 4 + 1 as int) AS l_linenumber",
        s"cast(${h(19)} % 50 + 1 as double) AS l_quantity",
        s"cast(${h(20)} % 10000000 + 90000 as double) / 100 AS l_extendedprice",
        s"cast(${h(21)} % 11 as double) / 100 AS l_discount",
        s"cast(${h(22)} % 9 as double) / 100 AS l_tax",
        s"${pick(Seq("A", "N", "R"), 23)} AS l_returnflag",
        s"${pick(Seq("F", "O"), 24)} AS l_linestatus",
        s"cast(timestamp_seconds($d0 + ${h(25)} % $dSpan) as timestamp_ntz) AS l_shipdate"),
      // two days of events from 2024-01-01, about 100 per user
      "events" -> range("events").selectExpr("id AS event_id",
        s"cast(timestamp_seconds(1704067200 + ${h(26)} % 172800) as timestamp_ntz) AS ts",
        s"${h(27)} % ${math.max(10L, r("events") / 100)} + 1 AS user_id",
        s"${pick(Seq("click", "view", "purchase", "search", "share"), 28)} AS event_type",
        s"cast(${h(29)} % 100000 as double) / 100 AS value",
        s"format_string('{\"device\":\"d%d\",\"v\":%d}', ${h(30)} % 7, ${h(31)} % 3) AS props"),
      // 30..59 words from a small vocabulary; every tenth document is a near
      // copy of its predecessor (one word differs), for the dedup kernels
      "documents" -> range("documents").selectExpr("id AS doc_id",
        s"""concat_ws(' ', transform(sequence(1, cast(abs(xxhash64(id - (id % 10 = 0)::int, ${dataSeed}7)) % 30 + 30 as int)),
           |  i -> if(id % 10 = 0 AND i = 3, 'edit',
           |    concat('w', cast(abs(xxhash64(id - (id % 10 = 0)::int, i, ${dataSeed}8)) % $vocab as string))))) AS text""".stripMargin,
        s"${pick(Seq("en", "de", "fr", "es"), 32)} AS lang",
        s"${pick(Seq("web", "books", "news"), 33)} AS source")
        .selectExpr("*", "cast(length(text) as bigint) AS n_chars"),
      "embeddings" -> range("embeddings").selectExpr("id AS vec_id",
        s"transform(sequence(1, 16), i -> cast((abs(xxhash64(id, i, ${dataSeed}9)) % 2001 - 1000) / 1000.0 as float)) AS embedding",
        s"cast(${h(34)} % 20 as int) AS label"))
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(*)", "coalesce(bit_xor(xxhash64(*)), 0)").head()
    (r.getLong(0), r.getLong(1))
  }

  /** Data files of a table directory with their sizes, in name order. */
  private def files(dir: String, table: String): Seq[(String, Long)] = {
    val d = java.nio.file.Paths.get(dir, s"$table.parquet")
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.toSeq.map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted
        .map(f => f -> java.nio.file.Files.size(d.resolve(f)))
      finally s.close()
    }
  }

  /** Write every table of scale `sf` under `dir` (one parquet directory per
    * table) and its manifest: row count, digest and data files per table. */
  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    val entries = tables(spark, sf).map { case (name, df) =>
      df.repartition(math.max(1, math.min(8, (rowsOf(sf).getOrElse(name, 0L) / 200000L).toInt + 1)))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      val (n, x) = digest(spark.read.parquet(s"$dir/$name.parquet"))
      val fs = files(dir, name).map { case (f, b) => s""""$f":$b""" }.mkString("{", ",", "}")
      s""""$name":{"rows":$n,"digest":$x,"files":$fs}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "manifest.json"),
      entries.mkString(s"""{"sf":$sf,"data_seed":$dataSeed,"tables":{""", ",", "}}\n"))
  }

  /** Check the data under `dir` against its manifest before a run uses it:
    * every table present with exactly the data files, byte for byte in
    * size, that generation wrote. Returns the recorded row counts; throws
    * naming the first mismatch. */
  def verify(dir: String): Map[String, Long] = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "manifest.json"))
    val Entry = """"(\w+)":\{"rows":(\d+),"digest":(-?\d+),"files":\{([^}]*)\}\}""".r
    val File = """"([^"]+)":(\d+)""".r
    val tables = Entry.findAllMatchIn(text).map { m =>
      (m.group(1), m.group(2).toLong, File.findAllMatchIn(m.group(4)).map(f => f.group(1) -> f.group(2).toLong).toSeq)
    }.toSeq
    require(tables.map(_._1).toSet == Mix.fixtureTables.toSet,
      s"manifest under $dir lists ${tables.map(_._1).mkString(",")}")
    tables.foreach { case (t, _, fs) =>
      require(fs.nonEmpty && files(dir, t) == fs, s"data check failed: $dir/$t.parquet differs from its manifest")
    }
    tables.map(t => t._1 -> t._2).toMap
  }
}
