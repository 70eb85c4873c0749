package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ForkFreeLocalFileSystem, ForkFreeLocalFs, GraftSession}

/** The fork-free `file:` filesystem gives the stock local filesystem's
  * answers without starting a process. Every spec builds its own
  * `Configuration` and uses `FileSystem.newInstance`: `FileSystem.get`
  * caches the first `file:` instance for the whole JVM. */
class LocalFsSpec extends AnyFunSuite {

  private def conf(forkFree: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (forkFree) ForkFreeLocalFs.hadoopConf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def withTmp[T](f: JPath => T): T = {
    val dir = Files.createTempDirectory("localfs")
    try f(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def bits(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Process starts seen while `body` runs; a marker event committed after
    * `body` on the same thread proves every earlier event was delivered. */
  private def forks(body: => Unit): Int = {
    val seen = new AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[LocalFsSpec.Marker])
      rs.onEvent("jdk.ProcessStart", _ => seen.incrementAndGet())
      rs.onEvent("graft.LocalFsSpec.Marker", _ => done.countDown())
      rs.startAsync()
      body
      new LocalFsSpec.Marker().commit()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "JFR marker never arrived")
      seen.get
    } finally rs.close()
  }

  test("files and directories get the stock POSIX bits under the same umask") {
    withTmp { dir =>
      for (umask <- Seq("022", "077", "002")) {
        val got = Seq(false, true).map { forkFree =>
          val fs = FileSystem.newInstance(URI.create("file:///"), conf(forkFree, umask))
          try {
            assert(fs.isInstanceOf[ForkFreeLocalFileSystem] == forkFree, fs.getClass)
            val base = dir.resolve(s"u$umask-$forkFree")
            val file = new Path(base.toUri.toString + "/a/b/f")
            fs.create(file).close()
            val explicit = new Path(base.toUri.toString + "/g")
            fs.create(explicit, octal("640"), true, 4096, 1.toShort, 1 << 20, null).close()
            val made = new Path(base.toUri.toString + "/d")
            fs.mkdirs(made, octal("751"))
            val chmodded = new Path(base.toUri.toString + "/h")
            fs.create(chmodded).close()
            fs.setPermission(chmodded, octal("604"))
            Seq(base.resolve("a"), base.resolve("a/b"), base.resolve("a/b/f"),
              base.resolve("g"), base.resolve("d"), base.resolve("h")).map(bits) :+
              fs.getFileStatus(explicit).getPermission.toString
          } finally fs.close()
        }
        assert(got(0) == got(1), s"umask $umask: stock ${got(0)} vs fork-free ${got(1)}")
      }
    }
  }

  test("getFileLinkStatus still reports a symlink and its target") {
    withTmp { dir =>
      val target = Files.write(dir.resolve("target"), "x".getBytes)
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      // scheme-less: the stock code runs `readlink` on Path.toString, which
      // for a `file:` URI names no file, so it never sees the link
      val plain = new Path(target.toString)
      val linked = new Path(link.toString)
      val answers = Seq(false, true).map { forkFree =>
        val c = conf(forkFree)
        val fs = FileSystem.newInstance(URI.create("file:///"), c)
        val fc = FileContext.getFileContext(URI.create("file:///"), c)
        // LocalFileSystem itself answers getFileStatus; the raw one sees links
        val raw = fs.asInstanceOf[LocalFileSystem].getRawFileSystem
        try {
          val viaFs = raw.getFileLinkStatus(linked)
          val viaFc = fc.getFileLinkStatus(linked)
          assert(viaFs.isSymlink && viaFc.isSymlink, s"forkFree=$forkFree")
          assert(!raw.getFileLinkStatus(plain).isSymlink && !fc.getFileLinkStatus(plain).isSymlink)
          intercept[java.io.FileNotFoundException](raw.getFileLinkStatus(new Path(dir.toString + "/missing")))
          intercept[java.io.FileNotFoundException](fc.getFileLinkStatus(new Path(dir.toString + "/missing")))
          (viaFs.getSymlink, viaFc.getSymlink, raw.getFileLinkStatus(plain).getLen)
        } finally fs.close()
      }
      assert(answers(0) == answers(1), s"stock ${answers(0)} vs fork-free ${answers(1)}")
      assert(answers(1)._1.toUri.getPath == target.toString)
    }
  }

  test("CheckpointFileManager.createAtomic round-trips; no process starts across 50 writes") {
    withTmp { dir =>
      def atomicWrites(forkFree: Boolean): Int = {
        val root = new Path(dir.toUri.toString + s"/ckpt-$forkFree")
        val mgr = CheckpointFileManager.create(root, conf(forkFree))
        mgr.mkdirs(root)
        val n = forks {
          (0 until 50).foreach { i =>
            val out = mgr.createAtomic(new Path(root, i.toString), overwriteIfPossible = false)
            out.write(s"batch $i".getBytes("UTF-8"))
            out.close()
          }
        }
        (0 until 50).foreach { i =>
          val in = mgr.open(new Path(root, i.toString))
          try assert(new String(in.readAllBytes(), "UTF-8") == s"batch $i") finally in.close()
        }
        assert(mgr.list(root).count(!_.getPath.getName.startsWith(".")) == 50)
        n
      }
      assert(atomicWrites(forkFree = true) == 0)
      // the stock filesystem forks chmod/readlink per write without libhadoop
      val stock = atomicWrites(forkFree = false)
      if (!NativeCodeLoader.isNativeCodeLoaded) assert(stock >= 4 * 50, s"stock forks: $stock")
    }
  }

  test("GraftSession.configure routes file: through both fork-free APIs") {
    val b = new LocalFsSpec.OptionsBuilder
    GraftSession.configure(b)
    assert(b.opts.get("spark.hadoop.fs.file.impl").contains(classOf[ForkFreeLocalFileSystem].getName))
    assert(b.opts.get("spark.hadoop.fs.AbstractFileSystem.file.impl").contains(classOf[ForkFreeLocalFs].getName))
  }
}

object LocalFsSpec {
  @jdk.jfr.Name("graft.LocalFsSpec.Marker")
  class Marker extends jdk.jfr.Event

  /** Exposes the options a builder collected, without building a session. */
  class OptionsBuilder extends SparkSession.Builder {
    def opts: Map[String, String] = options.toMap
  }
}
