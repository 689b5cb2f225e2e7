package graft.sources

import java.io.OutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileSystem, FilterFileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** [[FileCommit]] on the local scheme (java.nio temp + sidecar + atomic
  * move) and, through a `FilterFileSystem` wrapper, on the Hadoop path
  * every other file system takes. No Spark session: the commit is plain
  * file-system code.
  */
class FileCommitSpec extends AnyFunSuite {

  /** The Hadoop calls that fork a process per file without libhadoop. */
  private class NoForkLocalFS extends LocalFileSystem {
    private def forked(what: String) = throw new AssertionError(s"$what called")
    override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = forked("create")
    override def create(f: Path, p: FsPermission, flags: java.util.EnumSet[CreateFlag],
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable,
                        opt: Options.ChecksumOpt): FSDataOutputStream = forked("create")
    override def rename(src: Path, dst: Path): Boolean = forked("rename")
  }

  private val conf = new Configuration()
  private lazy val noFork = {
    val fs = new NoForkLocalFS
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
  private lazy val hadoopLocal = FileSystem.getLocal(conf)

  private def tempDir(prefix: String) = Files.createTempDirectory(prefix)

  private def payload(n: Int, seed: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + seed) % 251).toByte)

  /** Reads through `fs`, so a `LocalFileSystem` verifies the sidecar. */
  private def readBack(fs: FileSystem, p: Path): Array[Byte] = {
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  @scala.annotation.nowarn("cat=deprecation")
  private def fileBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  test("local commit forks nothing: no FileSystem.create, no rename") {
    val dir = tempDir("commit_nofork")
    val dest = new Path(dir.toString, "a.bin")
    val bytes = payload(1300, 1)
    FileCommit.writeBytes(noFork, dest, bytes)
    assert(readBack(noFork, dest).sameElements(bytes))
    assert(names(dir) == Set("a.bin", ".a.bin.crc"))
  }

  test("local sidecar is byte-identical to the one Hadoop writes itself") {
    val dir = tempDir("commit_crc")
    for ((n, i) <- Seq(0, 1, 511, 512, 513, 1300, 5000).zipWithIndex) {
      val bytes = payload(n, i)
      FileCommit.writeBytes(noFork, new Path(dir.toString, s"ours$i"), bytes)
      val out = hadoopLocal.create(new Path(dir.toString, s"theirs$i"), true)
      out.write(bytes); out.close()
      val ours = Files.readAllBytes(dir.resolve(s".ours$i.crc"))
      val theirs = Files.readAllBytes(dir.resolve(s".theirs$i.crc"))
      assert(ours.sameElements(theirs), s"$n-byte payload")
    }
  }

  test("local commit replaces an existing destination and leaves no temp") {
    val dir = tempDir("commit_replace")
    val dest = new Path(dir.toString, "sub/b.bin")
    FileCommit.writeBytes(noFork, dest, payload(4000, 2))
    val second = payload(700, 3)
    FileCommit.writeBytes(noFork, dest, second)
    assert(readBack(noFork, dest).sameElements(second))
    assert(names(dir.resolve("sub")) == Set("b.bin", ".b.bin.crc"))
  }

  test("local commit counts payload plus sidecar bytes in the file statistics") {
    val dir = tempDir("commit_stats")
    val bytesPerSum = noFork.getBytesPerSum
    val n = 3 * bytesPerSum + 17
    val before = fileBytesWritten
    FileCommit.writeBytes(noFork, new Path(dir.toString, "c.bin"), payload(n, 4))
    val crcLen = Files.size(dir.resolve(".c.bin.crc"))
    assert(crcLen == 8 + 4 * 4)
    assert(fileBytesWritten - before == n + crcLen)
  }

  test("a failed write leaves the destination as it was and no temp") {
    val dir = tempDir("commit_fail")
    val dest = new Path(dir.toString, "d.bin")
    val first = payload(900, 5)
    FileCommit.writeBytes(noFork, dest, first)
    intercept[IllegalStateException] {
      FileCommit.write(noFork, dest) { out =>
        out.write(payload(2000, 6))
        throw new IllegalStateException("writer failed")
      }
    }
    assert(readBack(noFork, dest).sameElements(first))
    assert(names(dir) == Set("d.bin", ".d.bin.crc"))
  }

  test("concurrent commits of different bytes leave a matching data/sidecar pair") {
    val dir = tempDir("commit_twins")
    val dest = new Path(dir.toString, "e.bin")
    val variants = Seq(payload(1500, 7), payload(2600, 8))
    val threads = variants.map { bytes =>
      new Thread(() => (0 until 40).foreach(_ => FileCommit.writeBytes(noFork, dest, bytes)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val got = readBack(noFork, dest)
    assert(variants.exists(_.sameElements(got)))
    assert(names(dir) == Set("e.bin", ".e.bin.crc"))
  }

  test("other file systems take Hadoop's create + rename path") {
    val dir = tempDir("commit_hadoop")
    val wrapped = new FilterFileSystem(hadoopLocal)
    assert(!wrapped.isInstanceOf[LocalFileSystem])
    val dest = new Path(dir.toString, "f.bin")
    FileCommit.writeBytes(wrapped, dest, payload(600, 9))
    val second = payload(1200, 10)
    FileCommit.writeBytes(wrapped, dest, second)
    assert(readBack(hadoopLocal, dest).sameElements(second))
    assert(names(dir) == Set("f.bin", ".f.bin.crc"))
    intercept[IllegalStateException] {
      FileCommit.write(wrapped, dest) { (out: OutputStream) =>
        out.write(1)
        throw new IllegalStateException("writer failed")
      }
    }
    assert(readBack(hadoopLocal, dest).sameElements(second))
    assert(names(dir) == Set("f.bin", ".f.bin.crc"))
  }
}
