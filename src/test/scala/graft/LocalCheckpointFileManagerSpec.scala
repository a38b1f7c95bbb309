package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The contract of graft's java.nio checkpoint file manager: Spark's
  * publish semantics (atomic, no-overwrite raises Hadoop's
  * `FileAlreadyExistsException`), listings and deletes as the default
  * manager reports them, checksummed reads, delegation of non-`file`
  * schemes, and no forked processes. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def tmpDir(): JPath = Files.createTempDirectory("graft_lcfm")
  private def hpath(p: JPath): Path = new Path(p.toUri)
  private def manager(dir: JPath): LocalCheckpointFileManager =
    new LocalCheckpointFileManager(hpath(dir), conf)
  private def spark(dir: JPath): CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(hpath(dir), conf)

  private def write(fm: CheckpointFileManager, p: JPath, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: JPath): String = {
    val in = fm.open(hpath(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  /** Write `text` through Hadoop's checksummed local filesystem, which
    * leaves a `.<name>.crc` sidecar as Spark's default manager does. */
  private def writeChecksummed(p: JPath, text: String): Unit = {
    val out = FileSystem.getLocal(conf).create(hpath(p), true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("no-overwrite publish onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tmpDir()
    val fm = manager(dir)
    val f = dir.resolve("0")
    write(fm, f, "first", overwrite = false)
    val e = intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
    assert(e.getMessage.contains("0"), e.getMessage)
    assert(read(fm, f) == "first", "the old bytes survive")
    assert(names(dir) == Set("0"), "the temp file is gone")
  }

  test("overwrite publish replaces the file and deletes a stale Hadoop .crc sidecar") {
    val dir = tmpDir()
    val f = dir.resolve("1.delta")
    writeChecksummed(f, "old")
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
    write(manager(dir), f, "new, longer bytes", overwrite = true)
    assert(names(dir) == Set("1.delta"), "the sidecar of the old bytes is gone")
    // a stale sidecar would fail the default manager's checksummed read
    assert(read(spark(dir), f) == "new, longer bytes")
    assert(read(manager(dir), f) == "new, longer bytes")
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = tmpDir()
    val out = manager(dir).createAtomic(hpath(dir.resolve("2")), false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(n => n.startsWith(".2.") && n.endsWith(".tmp")),
      s"writes go to a dot-prefixed temp file first: ${names(dir)}")
    out.cancel()
    out.close() // a no-op after cancel
    assert(names(dir).isEmpty)
  }

  test("list reports length, mtime and is-directory for each entry, as the default manager does") {
    val dir = tmpDir()
    val fm = manager(dir)
    write(fm, dir.resolve("a"), "abc", overwrite = false)
    writeChecksummed(dir.resolve("b"), "hello")
    fm.mkdirs(hpath(dir.resolve("sub")))
    Files.setLastModifiedTime(dir.resolve("a"),
      java.nio.file.attribute.FileTime.fromMillis(1600000000000L))
    def view(fm: CheckpointFileManager, filter: Path => Boolean = _ => true) =
      fm.list(hpath(dir), (p: Path) => filter(p)).map(s =>
        (s.getPath.toString, s.getLen, s.isDirectory, s.getModificationTime)).toSet
    val ours = view(fm)
    assert(ours == view(spark(dir)))
    val byName = ours.map(s => new Path(s._1).getName -> s).toMap
    assert(byName.keySet == Set("a", "b", "sub"), "Hadoop sidecars are hidden")
    assert(byName("a")._2 == 3L && !byName("a")._3 && byName("a")._4 == 1600000000000L)
    assert(byName("b")._2 == 5L && byName("sub")._3)
    assert(view(fm, _.getName == "b").map(_._2) == Set(5L), "the filter applies")
    intercept[FileNotFoundException](fm.list(hpath(dir.resolve("missing"))))
  }

  test("delete is recursive, drops a file's sidecar and ignores a missing path") {
    val dir = tmpDir()
    val fm = manager(dir)
    fm.mkdirs(hpath(dir.resolve("state/0/0")))
    write(fm, dir.resolve("state/0/0/1.delta"), "x", overwrite = true)
    writeChecksummed(dir.resolve("offsets"), "y")
    fm.delete(hpath(dir.resolve("state")))
    fm.delete(hpath(dir.resolve("offsets")))
    assert(names(dir).isEmpty)
    fm.delete(hpath(dir.resolve("state")))
    assert(!fm.exists(hpath(dir.resolve("state"))))
  }

  test("createCheckpointDirectory returns the default manager's qualified file: path") {
    val dir = tmpDir()
    val rel = s"graft_lcfm_rel_${System.nanoTime()}"
    try for (p <- Seq(dir.resolve("cp").toString, dir.resolve("cp2").toUri.toString, rel)) {
      val ours = new LocalCheckpointFileManager(new Path(p), conf).createCheckpointDirectory()
      assert(ours.toUri.getScheme == "file")
      assert(Files.isDirectory(java.nio.file.Paths.get(ours.toUri.getPath)))
      assert(ours == new FileContextBasedCheckpointFileManager(new Path(p), conf)
        .createCheckpointDirectory(), p)
    } finally Files.deleteIfExists(java.nio.file.Paths.get(rel).toAbsolutePath)
  }

  test("open reads through Hadoop's checksummed local filesystem: an existing .crc is verified") {
    val dir = tmpDir()
    val f = dir.resolve("0")
    writeChecksummed(f, "original")
    assert(read(manager(dir), f) == "original")
    Files.write(f, "corruptd".getBytes(UTF_8)) // same length, different bytes
    intercept[ChecksumException](read(manager(dir), f))
  }

  test("non-file schemes delegate to Spark's default manager") {
    val dir = tmpDir()
    val c = new Configuration()
    c.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    c.setBoolean("fs.graftfs.impl.disable.cache", true)
    val root = new Path(s"graftfs://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, c)
    // no FileContext binding for the scheme: Spark's default falls back to
    // its FileSystem-based manager, which publishes by FileSystem.rename
    val renames = GraftTestFs.renames.get()
    val out = fm.createAtomic(new Path(root, "0"), false)
    out.write("via graftfs".getBytes(UTF_8))
    out.close()
    assert(GraftTestFs.renames.get() == renames + 1, "published through the delegate")
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "via graftfs")
    assert(fm.list(root).map(_.getPath.toUri.getScheme).toSet == Set("graftfs"))
  }

  test("filesystems that refuse hard links fall back to Spark's exists-then-rename publish") {
    for (refusal <- Seq[() => Throwable](
        () => new UnsupportedOperationException("links not supported"),
        () => new FileSystemException("0", null, "Operation not permitted"))) {
      val dir = tmpDir()
      val fm = new LocalCheckpointFileManager(hpath(dir), conf) {
        override protected def link(target: JPath, tmp: JPath): Unit = throw refusal()
      }
      write(fm, dir.resolve("0"), "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, dir.resolve("0"), "second", overwrite = false))
      assert(read(fm, dir.resolve("0")) == "first")
      assert(names(dir) == Set("0"))
    }
  }

  test("publish, list, read and delete fork no process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    /** Processes this thread starts while `body` runs. */
    def spawns(body: => Unit): Int = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      val me = Thread.currentThread().getId
      val file = Files.createTempFile("graft_lcfm", ".jfr")
      try {
        rec.start()
        body
        rec.stop()
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.count(_.getThread.getJavaThreadId == me)
      } finally { rec.close(); Files.deleteIfExists(file) }
    }
    def cycle(fm: CheckpointFileManager, dir: JPath): Unit = {
      fm.mkdirs(hpath(dir.resolve("offsets")))
      for (i <- 0 until 3) {
        write(fm, dir.resolve(s"offsets/$i"), s"batch $i", overwrite = false)
        write(fm, dir.resolve(s"$i.delta"), s"delta $i", overwrite = true)
      }
      assert(fm.list(hpath(dir.resolve("offsets"))).length == 3)
      assert(read(fm, dir.resolve("offsets/2")) == "batch 2")
      fm.delete(hpath(dir.resolve("offsets/0")))
    }
    val ours = tmpDir()
    assert(spawns(cycle(manager(ours), ours)) == 0)
    // the probe sees forks: Spark's default manager shells out for the
    // same cycle unless the native Hadoop library is loaded
    val theirs = tmpDir()
    val native = org.apache.hadoop.io.nativeio.NativeIO.isAvailable
    val dflt = spawns(cycle(spark(theirs), theirs))
    info(s"Spark's default manager started $dflt processes (native Hadoop: $native)")
    assert(dflt > 0 || native)
  }
}

/** A local filesystem under its own scheme, with no FileContext binding,
  * counting renames. */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    GraftTestFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object GraftTestFs {
  val renames = new AtomicInteger()
}
