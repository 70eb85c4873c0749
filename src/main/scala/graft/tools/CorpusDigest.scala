package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Content digest of a test-data directory (r17, round-18 candidate #5):
  * per table, `rows` + order-free 64-bit value digests, written to
  * `<dir>/digest.json`.
  *
  * Why: ScaleUp corpora are regenerated across rounds and assumed
  * identical (deterministic seeds), but r16 and r17 measured a 0.7%
  * verified-pair delta on "the same" sf100f — with no digest there was no
  * way to tell corpus drift from harness drift. A digest makes corpus
  * identity a checkable equality — a HIGH-CONFIDENCE drift detector, not a
  * byte-equality proof (any xor-of-hashes fold cancels under even
  * multiplicity swaps, so collisions are constructible; no gate input
  * drifts that way by accident).
  *
  * Two digests per table (r18, ADVICE):
  *  - `h`  — the legacy v1 fold, bit_xor(xxhash64(cast(every col as
  *    string))): kept verbatim so digests stay comparable with the values
  *    PLANS.md recorded in r17;
  *  - `h2` — the strengthened fold: every column wrapped as
  *    coalesce(<repr>, '<null:col>') so NULL keeps its column position
  *    (xxhash64 SKIPS null arguments — (null,'x') and ('x',null) hashed
  *    identically under v1), and binary columns hashed via hex() (a
  *    string cast collapses invalid UTF-8 under replacement chars).
  *
  * Each table entry also records its parquet part-file count and total
  * bytes at digest time, so a consumer (tools/SweepScale `digest=`) can
  * cheaply detect a corpus regenerated WITHOUT re-digesting — the stale-
  * digest hazard of writing the fingerprint into the directory it
  * certifies. `v` stamps the digest schema itself.
  *
  * Usage: runMain graft.tools.CorpusDigest <dir> [<dir> ...]
  * Compare: diff <a>/digest.json <b>/digest.json
  */
object CorpusDigest {
  val Version = 2

  /** (file count, total bytes) of the regular files under a table's
    * parquet directory — the cheap staleness fingerprint. */
  def fileStats(tableDir: java.io.File): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (1L, f.length())
      else Option(f.listFiles()).getOrElse(Array.empty)
        .map(walk).foldLeft((0L, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }
    walk(tableDir)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CorpusDigest <dir> [<dir> ...]")
    args.foreach { a =>
      require(new java.io.File(a).isDirectory, s"not a directory: $a")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { dir =>
      val tables = Option(new java.io.File(dir).listFiles())
        .getOrElse(sys.error(s"unreadable directory: $dir"))
        .filter(f => f.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet")).sorted
      require(tables.nonEmpty, s"no *.parquet tables under $dir")
      val entries = tables.map { t =>
        val df = graft.Tables.load(spark, dir, t)
        def v1(c: String) = s"cast(`$c` as string)"
        def v2(c: String) = {
          val repr = df.schema(c).dataType match {
            case BinaryType => s"hex(`$c`)"
            case _ => s"cast(`$c` as string)"
          }
          s"coalesce($repr, '<null:$c>')"
        }
        val row = df.agg(count(lit(1)).as("n"),
          expr(df.columns.map(v1).mkString("bit_xor(xxhash64(", ", ", "))")).as("h"),
          expr(df.columns.map(v2).mkString("bit_xor(xxhash64(", ", ", "))")).as("h2"))
          .collect()(0)
        val h = if (row.isNullAt(1)) 0L else row.getLong(1)
        val h2 = if (row.isNullAt(2)) 0L else row.getLong(2)
        val (nFiles, bytes) = fileStats(new java.io.File(dir, t + ".parquet"))
        println(f"[digest] $dir%-20s $t%-12s rows=${row.getLong(0)}%-10d h=$h h2=$h2")
        "\"" + t + "\":{\"rows\":" + row.getLong(0) + ",\"h\":" + h +
          ",\"h2\":" + h2 + ",\"files\":" + nFiles + ",\"bytes\":" + bytes + "}"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "digest.json"),
        ("{\"v\":" + Version + "," + entries.mkString(",") + "}").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
