package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every streaming query on a tuned
  * session ([[graft.core.Tables.tune]] sets [[LocalCheckpointFiles.confKey]]):
  * the offset WAL and commit log on the driver, the state-store delta,
  * snapshot and checksum files on the executors.
  *
  * On a `file:` path it writes without starting a process. Without native
  * libhadoop, Hadoop's local file system forks `chmod` on every create
  * and `readlink` on every rename: 10 processes and about 12 ms per
  * checkpoint file through Spark's default manager, most of a
  * micro-batch's latency (LEDGER.md). Here a write goes to a temp file
  * beside the target and is published by `rename(2)` when
  * `overwriteIfPossible` is set, or else by a hard link, which fails when
  * the target exists: the `FileAlreadyExistsException` by which
  * `HDFSMetadataLog` detects a concurrent writer (so a local checkpoint
  * directory must be on a file system with hard links, as POSIX ones
  * have). Reads skip checksum sidecars, so a `.crc` left by Hadoop's
  * writer of an overwritten file cannot fail them; a publish deletes the
  * target's `.crc` so Spark's own manager can read the file too. Lists,
  * existence checks and deletes go to Hadoop's local file system, which
  * forks for none of them.
  *
  * Every other scheme (HDFS, object stores) gets the manager Spark would
  * choose without this class, unchanged.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) match {
      case "file" => new LocalCheckpointFiles.Nio(path, FileSystem.getLocal(hadoopConf))
      case _ => LocalCheckpointFiles.sparkDefault(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {

  /** The session conf through which Spark picks a checkpoint file manager. */
  val confKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager `CheckpointFileManager.create` picks when no class is
    * configured: FileContext-based, FileSystem-based where the scheme has
    * no FileContext implementation.
    */
  private[graft] def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(confKey)
    CheckpointFileManager.create(path, conf)
  }

  /** The `file:` manager: writes through `java.nio`, the rest through `fs`. */
  private final class Nio(root: Path, fs: LocalFileSystem) extends CheckpointFileManager {
    private def file(p: Path): NioPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new Publish(target, temp, overwriteIfPossible,
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    }
    override def open(p: Path): FSDataInputStream = fs.getRawFileSystem.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Bytes go to `temp`; `close` publishes them at `target`, `cancel`
    * drops them. Either way `temp` is gone afterwards.
    */
  private final class Publish(target: NioPath, temp: NioPath, overwrite: Boolean, raw: OutputStream)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(raw)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, temp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try raw.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
