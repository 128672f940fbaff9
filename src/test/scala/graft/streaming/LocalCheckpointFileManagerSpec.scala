package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The raw local filesystem under a scheme of its own, counting the
  * files created through Hadoop's `FileSystem` API.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingLocalFs.Scheme}:///")
  override def getScheme: String = CountingLocalFs.Scheme
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  val Scheme = "countlocal"
  val creates = new AtomicInteger()
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def fixture(): (JPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft-ckptfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(fm: LocalCheckpointFileManager, p: JPath, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: JPath): String = {
    val in = fm.open(new Path(p.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("an atomic file is absent until close(), then whole and without temp files") {
    val (dir, fm) = fixture()
    val target = dir.resolve("logs").resolve("0")
    val out = fm.createAtomic(new Path(target.toUri), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!Files.exists(target))
    assert(!fm.exists(new Path(target.toUri)))
    out.close()
    assert(read(fm, target) == "v1\n{}")
    // no `.crc` sidecar: the write bypassed Hadoop
    assert(names(target.getParent) == Set("0"))
    out.close() // a second close is a no-op
    assert(names(target.getParent) == Set("0"))
  }

  test("cancel() leaves no file, temp file included") {
    val (dir, fm) = fixture()
    val target = dir.resolve("1")
    val out = fm.createAtomic(new Path(target.toUri), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")))
    out.cancel()
    assert(names(dir).isEmpty)
    out.close() // after cancel() nothing is published
    assert(names(dir).isEmpty)
  }

  test("an interrupted writer still publishes whole bytes") {
    // StreamingQuery.stop() interrupts the thread that writes the logs
    val (dir, fm) = fixture()
    val target = dir.resolve("5")
    val out = fm.createAtomic(new Path(target.toUri), overwriteIfPossible = false)
    Thread.currentThread().interrupt()
    try {
      out.write(Array.fill[Byte](1 << 17)(7))
      out.close()
    } finally assert(Thread.interrupted())
    assert(Files.readAllBytes(target).toSeq == Seq.fill[Byte](1 << 17)(7))
    assert(names(dir) == Set("5"))
  }

  test("no-overwrite onto an existing target throws and keeps the old bytes") {
    val (dir, fm) = fixture()
    val target = dir.resolve("2")
    write(fm, target, "old", overwrite = false)
    val out = fm.createAtomic(new Path(target.toUri), overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    assertThrows[FileAlreadyExistsException](out.close())
    out.cancel() // what Spark's metadata log does after a failed close
    assert(read(fm, target) == "old")
    assert(names(dir) == Set("2"))
  }

  test("overwrite replaces the bytes and drops the stale .crc of the old ones") {
    val (dir, fm) = fixture()
    val target = dir.resolve("3")
    // the old bytes as Spark's default manager leaves them: with a
    // `.crc` sidecar written by Hadoop's checksummed local filesystem
    val hadoopOut = FileSystem.getLocal(conf).create(new Path(target.toUri))
    hadoopOut.write("old bytes".getBytes(UTF_8))
    hadoopOut.close()
    assert(Files.exists(dir.resolve(".3.crc")))
    write(fm, target, "new", overwrite = true)
    assert(names(dir) == Set("3"))
    // reads stay on the checksummed filesystem; a stale `.crc` would
    // fail them
    assert(read(fm, target) == "new")
  }

  test("a path of another scheme goes to Spark's default manager") {
    val c = new Configuration(conf)
    c.set(s"fs.${CountingLocalFs.Scheme}.impl", classOf[CountingLocalFs].getName)
    c.setBoolean(s"fs.${CountingLocalFs.Scheme}.impl.disable.cache", true)
    val dir = Files.createTempDirectory("graft-ckptfm-other")
    val target = new Path(s"${CountingLocalFs.Scheme}://${dir.resolve("4")}")
    val fm = new LocalCheckpointFileManager(target.getParent, c)
    val before = CountingLocalFs.creates.get
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("elsewhere".getBytes(UTF_8))
    out.close()
    // Spark's manager created its temp file through `FileSystem.create`
    assert(CountingLocalFs.creates.get > before)
    assert(new String(Files.readAllBytes(dir.resolve("4")), UTF_8) == "elsewhere")
    assert(fm.exists(target))
    assert(fm.list(target.getParent).map(_.getPath.getName).toSeq == Seq("4"))
  }
}
