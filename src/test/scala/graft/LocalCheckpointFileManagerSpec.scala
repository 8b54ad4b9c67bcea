package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{FraudConstants, Transaction}
import graft.streaming.{FraudStream, LocalCheckpointFileManager}

/** The fork-free checkpoint writer: files it writes read back through
  * Hadoop's checksummed local file system exactly like files Hadoop wrote,
  * `overwriteIfPossible` keeps the contract `HDFSMetadataLog` relies on, and
  * the streaming entry points install it without overriding a user's choice.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val localFs: LocalFileSystem = FileSystem.getLocal(conf)

  private def newDir(): Path = new Path(Files.createTempDirectory("lcfm").toUri)

  private def manager(dir: Path) = new LocalCheckpointFileManager(dir, conf)

  private def bytes(n: Int): Array[Byte] = {
    val r = new scala.util.Random(n)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  private def write(fm: CheckpointFileManager, p: Path, data: Array[Byte],
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(data)
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Every file in `dir`, `.crc` and temp files included. */
  private def rawNames(dir: Path): Set[String] =
    Option(new java.io.File(dir.toUri).list()).map(_.toSet).getOrElse(Set.empty)

  private def crcBytes(p: Path): Array[Byte] =
    Files.readAllBytes(Paths.get(localFs.getChecksumFile(p).toUri))

  test("createAtomic/open round-trip, with a .crc identical to Hadoop's own") {
    val dir = newDir()
    val fm = manager(dir)
    for (n <- Seq(0, 1, 511, 512, 513, 100000)) {
      val data = bytes(n)
      val p = new Path(dir, s"f$n")
      write(fm, p, data, overwrite = false)
      assert(read(fm, p).sameElements(data), s"size $n")
      val ref = new Path(dir, s"ref$n")
      val out = localFs.create(ref)
      out.write(data)
      out.close()
      assert(crcBytes(p).sameElements(crcBytes(ref)), s"size $n .crc")
    }
  }

  test("one flipped data byte fails the checksum on read") {
    val dir = newDir()
    val fm = manager(dir)
    val p = new Path(dir, "f")
    write(fm, p, bytes(2000), overwrite = false)
    val raf = new RandomAccessFile(new java.io.File(p.toUri), "rw")
    try {
      raf.seek(1000)
      val b = raf.read()
      raf.seek(1000)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException](read(fm, p))
  }

  test("overwriteIfPossible: true replaces, false on an existing file throws and keeps it") {
    val dir = newDir()
    val fm = manager(dir)
    val p = new Path(dir, "0")
    write(fm, p, "first".getBytes, overwrite = false)
    write(fm, p, "second".getBytes, overwrite = true)
    assert(new String(read(fm, p)) == "second")
    intercept[FileAlreadyExistsException](write(fm, p, "third".getBytes, overwrite = false))
    assert(new String(read(fm, p)) == "second")
    assert(rawNames(dir) == Set("0", ".0.crc"))
  }

  test("cancel() leaves no temp or .crc file, and list hides .crc files") {
    val dir = newDir()
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir, "cancelled"), overwriteIfPossible = false)
    out.write(bytes(1000))
    out.cancel()
    assert(rawNames(dir).isEmpty)
    write(fm, new Path(dir, "1"), bytes(10), overwrite = false)
    write(fm, new Path(dir, "2"), bytes(10), overwrite = false)
    assert(rawNames(dir) == Set("1", ".1.crc", "2", ".2.crc"))
    assert(fm.list(dir).map(_.getPath.getName).toSet == Set("1", "2"))
    fm.delete(new Path(dir, "1"))
    fm.delete(new Path(dir, "absent"))
    assert(rawNames(dir) == Set("2", ".2.crc"))
    assert(fm.exists(new Path(dir, "2")) && !fm.exists(new Path(dir, "1")))
  }

  test("non-file schemes get Spark's default manager") {
    val mock = new Configuration(conf)
    mock.set("fs.mock.impl", classOf[LocalFileSystem].getName)
    mock.setBoolean("fs.mock.impl.disable.cache", true)
    val p = new Path("mock:///ckpt")
    val fm = new LocalCheckpointFileManager(p, mock)
    assert(fm.impl.getClass == CheckpointFileManager.create(p, mock).getClass)
    assert(fm.impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val dir = newDir()
    assert(manager(dir).impl.getClass != CheckpointFileManager.create(dir, conf).getClass)
  }

  test("fanOut installs the manager on its session and keeps a user's setting") {
    def fanOutIn(session: org.apache.spark.sql.SparkSession): String = {
      import session.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
      val ms = MemoryStream[Transaction]
      val ckpt = Files.createTempDirectory("lcfm_fanout").toString
      val q = FraudStream.fanOut(FraudStream.score(ms.toDS(), FraudConstants.RapidTxCountV1),
        _ => (), _ => (), _ => (), ckpt)
      q.stop()
      ckpt
    }
    val fresh = TestSpark.spark.newSession()
    fresh.conf.unset(LocalCheckpointFileManager.ConfKey)
    val ckpt = fanOutIn(fresh)
    assert(CheckpointFileManager.create(new Path(ckpt), fresh.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])

    val chosen = TestSpark.spark.newSession()
    val userClass = classOf[FileContextBasedCheckpointFileManager].getName
    chosen.conf.set(LocalCheckpointFileManager.ConfKey, userClass)
    val ckpt2 = fanOutIn(chosen)
    assert(chosen.conf.get(LocalCheckpointFileManager.ConfKey) == userClass)
    assert(CheckpointFileManager.create(new Path(ckpt2), chosen.sessionState.newHadoopConf())
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }
}
