package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.zip.CRC32

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for `file:` paths that writes without starting a
  * child process.
  *
  * Without the native Hadoop library, Hadoop's `RawLocalFileSystem` forks
  * `chmod` for every file it creates and `readlink` for every rename, so
  * Spark's default manager spends 40–48 ms on each atomic write. A stream
  * writes an offset log entry, a commit log entry and one state delta per
  * shuffle partition on every micro-batch, so those forks set the per-batch
  * fixed cost.
  *
  * Writes go through java.io into a temp file in the target's directory,
  * together with a Hadoop-format `.crc` sibling (magic `crc\0`, the
  * `bytesPerChecksum` int, one CRC32 per chunk), and are published with an
  * atomic rename. Everything else — reads, `list`, `exists`, `delete`,
  * `mkdirs` — goes through Hadoop's `LocalFileSystem`, which verifies each
  * `.crc` on read and hides `.crc` files from listings, so checkpoints stay
  * interchangeable with Spark's default manager in both directions.
  *
  * Paths on any other file system (or a `file:` scheme mapped to something
  * other than `LocalFileSystem`) get whatever `CheckpointFileManager.create`
  * picks when no manager class is configured.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme != "file") sparkDefault(path, hadoopConf)
    else path.getFileSystem(hadoopConf) match {
      case fs: LocalFileSystem => new Local(fs)
      case _ => sparkDefault(path, hadoopConf)
    }
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

  private final class Local(fs: LocalFileSystem) extends CheckpointFileManager {

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = fs.makeQualified(p)
      val tmp = new Path(target.getParent, s".${target.getName}.${UUID.randomUUID}.tmp")
      new AtomicWrite(new ChecksummedStream(fs.pathToFile(tmp).toPath, fs.getBytesPerSum),
        fs, target, tmp, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)

    // mkdirs(Path) sets no permission, so it does not fork `chmod` either
    override def mkdirs(p: Path): Unit = { fs.mkdirs(p); () }

    override def exists(p: Path): Boolean = fs.exists(p)

    override def delete(p: Path): Unit =
      try { fs.delete(p, true); () } catch { case _: FileNotFoundException => () }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  }
}

object LocalCheckpointFileManager {

  /** Spark's key for the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes streaming queries started afterwards on `spark` use this manager,
    * unless a manager class is already set (in the session or its Hadoop
    * configuration), which then stays in effect.
    */
  def install(spark: SparkSession): Unit =
    if (spark.sessionState.newHadoopConf().get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private val ChecksumMagic = Array[Byte]('c', 'r', 'c', 0)

  /** Writes `tmp` and its `.crc`, then on `close()` renames both onto
    * `target` (checksum first, so a visible data file always has one).
    * The exists-then-rename for `overwrite = false` has the same window as
    * Spark's own `FileSystem`-based manager; checkpoint logs have one writer.
    */
  private final class AtomicWrite(
      data: ChecksummedStream, fs: LocalFileSystem, target: Path, tmp: Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(data) {
    private val tmpCrc = fs.pathToFile(fs.getChecksumFile(tmp)).toPath
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          Files.write(tmpCrc, data.checksumFile)
          val dst = fs.pathToFile(target).toPath
          if (!overwrite && Files.exists(dst))
            throw new FileAlreadyExistsException(s"$target already exists")
          Files.move(tmpCrc, fs.pathToFile(fs.getChecksumFile(target)).toPath, StandardCopyOption.ATOMIC_MOVE)
          Files.move(data.file, dst, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case NonFatal(e) => removeTemps(); throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case NonFatal(_) => () }
        finally removeTemps()
      }
    }

    private def removeTemps(): Unit = {
      Files.deleteIfExists(data.file)
      Files.deleteIfExists(tmpCrc)
      ()
    }
  }

  /** File output that keeps one CRC32 per `bytesPerSum` chunk, in the
    * layout `ChecksumFileSystem` reads back.
    */
  private final class ChecksummedStream(val file: java.nio.file.Path, bytesPerSum: Int) extends OutputStream {
    private val out = new BufferedOutputStream(
      Files.newOutputStream(file, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)
    private val crc = new CRC32
    private var inChunk = 0
    private val sums = new ByteArrayOutputStream()
    private val sumsOut = new DataOutputStream(sums)
    sumsOut.write(ChecksumMagic)
    sumsOut.writeInt(bytesPerSum)

    override def write(b: Int): Unit = {
      out.write(b)
      crc.update(b)
      inChunk += 1
      if (inChunk == bytesPerSum) endChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      val end = off + len
      while (o < end) {
        val n = math.min(end - o, bytesPerSum - inChunk)
        crc.update(b, o, n)
        inChunk += n
        o += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()

    override def close(): Unit = out.close()

    /** The `.crc` file's bytes; the last, partial chunk gets its own sum. */
    def checksumFile: Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }
  }
}
