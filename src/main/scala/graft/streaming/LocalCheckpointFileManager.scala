package graft.streaming

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.nio.file.{FileSystemException, FileVisitResult,
  Files, NoSuchFileException, SimpleFileVisitor, StandardCopyOption, StandardOpenOption,
  Path => JPath, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * A Structured Streaming `CheckpointFileManager` for `file:` checkpoint
 * directories that writes, publishes, lists and deletes with java.nio.
 *
 * Spark's default manager goes through Hadoop's `FileContext`. Without the
 * native Hadoop library, `RawLocalFileSystem` shells out for that: four
 * `readlink` processes per rename and one `chmod` per created file. Every
 * micro-batch renames its offset and commit log entries and every state
 * store delta, so a small stateful query spends most of its batch time
 * waiting on forked processes. This manager forks nothing:
 *
 *  - `createAtomic` writes `.<name>.<uuid>.tmp` next to the target;
 *  - a publish that must not overwrite hard-links the temp file to the
 *    target (`Files.createLink`): atomic, and an existing target raises
 *    Hadoop's `FileAlreadyExistsException`, which `HDFSMetadataLog` reads
 *    as a second writer on the same checkpoint;
 *  - a publish that may overwrite renames with `ATOMIC_MOVE`;
 *  - on a filesystem that refuses hard links, the no-overwrite publish
 *    falls back to Spark's `FileSystem`-based semantics: fail if the
 *    target exists, else rename (not atomic against a racing writer).
 *
 * Files are written without Hadoop `.crc` sidecars. A publish or delete
 * removes the target's stale `.<name>.crc`, so a checkpoint started under
 * Spark's default manager stays readable by both managers. Reads go
 * through Hadoop's checksummed local filesystem, so an existing sidecar is
 * still verified, and listings hide sidecars as `ChecksumFs` does.
 *
 * Any other scheme is served by Spark's default manager, chosen as
 * `CheckpointFileManager.create` chooses it. Spark instantiates the class
 * reflectively from `spark.sql.streaming.checkpointFileManagerClass`
 * through the `(Path, Configuration)` constructor; `App.run` installs it.
 */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val delegate: Option[CheckpointFileManager] =
    if (isLocalScheme(path, hadoopConf)) None else Some(defaultManager(path, hadoopConf))

  private lazy val fs: LocalFileSystem = FileSystem.getLocal(hadoopConf)

  private def qualify(p: Path): Path = fs.makeQualified(p)
  private def nio(p: Path): JPath = Paths.get(qualify(p).toUri.getPath)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream] {
      val target = nio(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicFile(target, tmp, overwriteIfPossible, createNew(tmp))
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream =
    delegate.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.fold(listLocal(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    delegate.fold[Unit](Files.createDirectories(nio(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean =
    delegate.fold(Files.exists(nio(p)))(_.exists(p))

  override def delete(p: Path): Unit =
    delegate.fold(deleteLocal(nio(p)))(_.delete(p))

  override def isLocal: Boolean = delegate.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = delegate.fold {
    val q = qualify(path)
    Files.createDirectories(nio(q))
    q
  }(_.createCheckpointDirectory())

  override def close(): Unit = delegate.foreach(_.close())

  /** Publish `tmp` as `target` without replacing an existing file. A
    * protected hook so specs can model a filesystem without hard links. */
  protected def link(target: JPath, tmp: JPath): Unit = Files.createLink(target, tmp)

  private def publish(target: JPath, tmp: JPath, overwrite: Boolean): Unit = {
    Files.deleteIfExists(crcOf(target))
    if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    else try {
      try link(target, tmp) catch {
        case e @ (_: UnsupportedOperationException | _: FileSystemException)
            if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
          Files.move(tmp, target) // no hard links here: Spark's exists-then-rename
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"$target already exists")
    }
  }

  private def listLocal(p: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = qualify(p)
    val d = nio(dir)
    val attrs = try Files.readAttributes(d, classOf[BasicFileAttributes])
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$dir does not exist") }
    def status(at: Path, a: BasicFileAttributes) =
      new FileStatus(a.size, a.isDirectory, 1, blockSize, a.lastModifiedTime.toMillis, at)
    if (!attrs.isDirectory) return Array(status(dir, attrs)).filter(s => filter.accept(s.getPath))
    val entries = Files.newDirectoryStream(d)
    try entries.asScala.iterator
      .filterNot(e => isChecksumFile(e.getFileName.toString))
      .flatMap { e =>
        val child = new Path(dir, e.getFileName.toString)
        if (!filter.accept(child)) None
        else try Some(status(child, Files.readAttributes(e, classOf[BasicFileAttributes])))
        catch { case _: NoSuchFileException => None } // deleted while listing
      }.toArray
    finally entries.close()
  }

  private lazy val blockSize = fs.getDefaultBlockSize(qualify(path))

  /** A final stream: `close` publishes the temp file, `cancel` drops it. */
  private final class AtomicFile(target: JPath, tmp: JPath, overwrite: Boolean, out: OutputStream)
      extends CancellableFSDataOutputStream(out) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          publish(target, tmp, overwrite)
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        Files.deleteIfExists(tmp)
      }
    }
  }
}

object LocalCheckpointFileManager {
  /** The session conf Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isLocalScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's own choice for a path (`CheckpointFileManager.create` with no
    * manager class set). */
  private def defaultManager(p: Path, conf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(p, conf)
    catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(p, conf) }

  /** Hadoop's checksum sidecar naming (`ChecksumFileSystem.isChecksumFile`). */
  private def isChecksumFile(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")
  private def crcOf(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  private def createNew(p: JPath): OutputStream = new java.io.BufferedOutputStream(
    Files.newOutputStream(p, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)

  /** Recursive delete that ignores a missing path and removes a file's
    * `.crc` sidecar with it. Symbolic links are removed, not followed. */
  private[graft] def deleteLocal(p: JPath): Unit = {
    Files.walkFileTree(p, new SimpleFileVisitor[JPath] {
      override def visitFile(f: JPath, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: JPath, e: IOException): FileVisitResult = e match {
        case _: NoSuchFileException => FileVisitResult.CONTINUE
        case _ => throw e
      }
      override def postVisitDirectory(d: JPath, e: IOException): FileVisitResult = {
        if (e != null) throw e
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
    Files.deleteIfExists(crcOf(p))
  }
}
