package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.{CorpusDigest, SweepScale}
import scala.jdk.CollectionConverters._

/** Pins for the measurement-harness helpers that gate sweep honesty (r18):
  * the corpus-digest comparison SweepScale refuses on, the stale-digest
  * file-fingerprint check, and the one-session-factory guard. Pure JVM —
  * no Spark session. */
class ToolsSpec extends AnyFunSuite {

  private val v2 =
    """{"v":2,"documents":{"rows":500,"h":-123,"h2":456,"files":3,"bytes":9999},
      |"events":{"rows":10,"h":7,"h2":8,"files":1,"bytes":42}}""".stripMargin

  test("compareDigests: equal digests match; every differing field is named") {
    assert(SweepScale.compareDigests(v2, v2).isEmpty)
    val drifted = v2.replace("\"h\":-123", "\"h\":-124")
    val m = SweepScale.compareDigests(v2, drifted)
    assert(m.size == 1 && m.head.contains("documents") && m.head.contains("h"), m)
    val fewerRows = v2.replace("\"rows\":10", "\"rows\":9")
    val m2 = SweepScale.compareDigests(v2, fewerRows)
    assert(m2.size == 1 && m2.head.contains("events") && m2.head.contains("rows"), m2)
  }

  test("compareDigests: missing table named; v1-vs-v2 compares only shared fields") {
    val missing = """{"v":2,"documents":{"rows":500,"h":-123,"h2":456,"files":3,"bytes":9999}}"""
    val m = SweepScale.compareDigests(v2, missing)
    assert(m.size == 1 && m.head.contains("events") && m.head.contains("missing"), m)
    // a v1 digest (no h2, no file fingerprint) must still compare rows+h —
    // the r17 PLANS.md recordings are v1, and they anchor the r18 corpora
    val v1 = """{"documents":{"rows":500,"h":-123},"events":{"rows":10,"h":7}}"""
    assert(SweepScale.compareDigests(v1, v2).isEmpty, "v1 expected vs v2 actual must match on rows+h")
    assert(SweepScale.compareDigests(v2, v1).isEmpty, "v2 expected vs v1 actual must match on rows+h")
    assert(SweepScale.compareDigests(v1, v2.replace("\"h\":7", "\"h\":9")).nonEmpty)
  }

  test("staleTables: flags a table regenerated after digesting; v1 digests uncheckable") {
    val dir = java.nio.file.Files.createTempDirectory("toolsspec-").toFile
    try {
      val t = new java.io.File(dir, "documents.parquet")
      assert(t.mkdir())
      java.nio.file.Files.write(t.toPath.resolve("part-0"), Array[Byte](1, 2, 3))
      val (n, b) = CorpusDigest.fileStats(t)
      assert((n, b) == (1L, 3L))
      val digest = s"""{"v":2,"documents":{"rows":1,"h":0,"h2":0,"files":$n,"bytes":$b}}"""
      assert(SweepScale.staleTables(digest, dir.toString).isEmpty)
      // regenerate: an extra part file changes the fingerprint -> stale
      java.nio.file.Files.write(t.toPath.resolve("part-1"), Array[Byte](4))
      val stale = SweepScale.staleTables(digest, dir.toString)
      assert(stale.size == 1 && stale.head.contains("documents"), stale)
      // a v1 digest has no fingerprint: nothing to check, never stale
      assert(SweepScale.staleTables("""{"documents":{"rows":1,"h":0}}""", dir.toString).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("GraftSession is the only session factory: no other builder call in src/") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder("
    val roots = Seq("src/main", "src/test").map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(java.nio.file.Files.isDirectory(r), s"missing $r"))
    val hits = roots.flatMap { r =>
      val walk = java.nio.file.Files.walk(r)
      // latin-1 decodes any byte sequence (some specs embed non-UTF-8 bytes)
      try walk.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
          new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1").contains(needle))
        .toList
      finally walk.close()
    }
    assert(hits.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      s"builder call sites outside GraftSession: ${hits.mkString(", ")}")
  }

  test("the engine keys no map or set by SparkSession: per-session state lives in Gateway.Session") {
    // a Map/Set type (TrieMap, LinkedHashMap, java.util.Set, ...) whose key
    // type is SparkSession, across a line break before `.empty` too
    val keyed = """\b\w*(?:Map|Set)\b[\s.]*(?:empty\s*)?\[\s*(?:[\w.]+\.)?SparkSession\b""".r
    val root = java.nio.file.Paths.get("src/main/scala/graft/engine")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1")
        keyed.findAllMatchIn(text).map(m =>
          s"${p.getFileName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
      }.toList
      finally walk.close()
    assert(hits.isEmpty, s"SparkSession-keyed maps or sets: ${hits.mkString(", ")}")
  }
}
