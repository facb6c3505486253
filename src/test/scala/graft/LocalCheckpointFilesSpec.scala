package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.LocalCheckpointFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.network.util.JavaUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint file manager's contract on a local path: atomic
  * publish with and without overwrite, cancel, reads past a stale
  * checksum sidecar, and Spark's own manager for every other scheme.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val conf = new Configuration()
  private val scratch = Files.createTempDirectory("ckpt-files")
  override def afterAll(): Unit = JavaUtils.deleteRecursively(scratch.toFile)

  /** A fresh directory and the manager rooted at it. */
  private def fresh(): (Path, CheckpointFileManager) = {
    val dir = new Path(Files.createTempDirectory(scratch, "case").toUri)
    (dir, new LocalCheckpointFiles(dir, conf))
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in `dir`, hidden files included. */
  private def names(dir: Path): Set[String] =
    new java.io.File(dir.toUri).list().toSet

  test("a no-overwrite publish onto an existing file fails and keeps the old bytes") {
    val (dir, fm) = fresh()
    val p = new Path(dir, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"), "the failed publish left its temp file")
  }

  test("an overwrite publish replaces the file") {
    val (dir, fm) = fresh()
    val p = new Path(dir, "1.delta")
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(dir) == Set("1.delta"))
  }

  test("cancel leaves no temp file and publishes nothing") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir, "2"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size == 1, "the write should go to one temp file")
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("a stale .crc sidecar of an overwritten file breaks no read") {
    val (dir, fm) = fresh()
    val p = new Path(dir, "3.snapshot")
    // Hadoop's checksummed local writer leaves a .crc sidecar beside the file
    val hadoopOut = FileSystem.getLocal(conf).create(p)
    hadoopOut.write("written by hadoop".getBytes(UTF_8))
    hadoopOut.close()
    assert(names(dir).contains(".3.snapshot.crc"))
    write(fm, p, "written by nio", overwrite = true)
    assert(read(fm, p) == "written by nio")
    assert(read(LocalCheckpointFiles.sparkDefault(p, conf), p) == "written by nio")
    assert(names(dir) == Set("3.snapshot"))
  }

  test("directories, listing, existence and delete") {
    val (dir, fm) = fresh()
    val sub = new Path(dir, "state/0/1")
    fm.mkdirs(sub)
    write(fm, new Path(sub, "1.delta"), "a", overwrite = true)
    write(fm, new Path(sub, "2.delta"), "b", overwrite = true)
    assert(fm.list(sub).map(_.getPath.getName).toSet == Set("1.delta", "2.delta"))
    assert(fm.exists(new Path(sub, "1.delta")))
    fm.delete(new Path(sub, "1.delta"))
    fm.delete(new Path(sub, "9.delta"))
    assert(!fm.exists(new Path(sub, "1.delta")))
    assert(fm.isLocal)
    val root = new Path(dir, "ckpt")
    assert(new LocalCheckpointFiles(root, conf).createCheckpointDirectory() ==
      FileSystem.getLocal(conf).makeQualified(root))
    assert(Files.isDirectory(new java.io.File(root.toUri).toPath))
  }

  test("a non-file: path gets the manager Spark chooses by default") {
    val local = new LocalCheckpointFiles(new Path("ckpt"), conf).impl
    assert(!local.isInstanceOf[FileContextBasedCheckpointFileManager] &&
      !local.isInstanceOf[FileSystemBasedCheckpointFileManager])

    val hdfs = new Path("hdfs://localhost:1/ckpt")
    assert(new LocalCheckpointFiles(hdfs, conf).impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(CheckpointFileManager.create(hdfs, conf).isInstanceOf[FileContextBasedCheckpointFileManager])

    // a scheme with a FileSystem but no FileContext implementation: Spark
    // falls back to its FileSystem-based manager, and so does this class
    val other = new Configuration(conf)
    other.set("fs.grafttest.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val p = new Path("grafttest:///ckpt")
    assert(new LocalCheckpointFiles(p, other).impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(CheckpointFileManager.create(p, other).isInstanceOf[FileSystemBasedCheckpointFileManager])

    // the configured class is what Spark instantiates
    other.set(LocalCheckpointFiles.confKey, classOf[LocalCheckpointFiles].getName)
    assert(CheckpointFileManager.create(p, other).isInstanceOf[LocalCheckpointFiles])
  }
}
