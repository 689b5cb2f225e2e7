package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream, IOException, OutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.util.DataChecksum

/** The one commit for every file the engine writes itself (zarr chunks and
  * `.zarray`, npy-stack `<i>.npy` and `info`, `to_avro` part files): the
  * bytes go to a hidden temp NEXT TO the destination, named by task attempt
  * (`.<name>.<attempt>.tmp`; `driver-<thread>` outside a task), and one
  * rename then replaces the destination.
  *
  * Contract:
  *   - a reader never sees a partial file;
  *   - replacing a destination is one atomic rename, so it is never
  *     missing, not even for a moment (the one exception is the fallback
  *     below, for file systems with no `FileContext` binding);
  *   - speculative twins of one task each commit a complete file and the
  *     last rename wins, so no twin erases a file another already
  *     committed;
  *   - a failed write removes its temp and rethrows.
  *
  * On Hadoop's checksummed `LocalFileSystem` the commit runs on `java.nio`.
  * Without libhadoop, Hadoop's local `create` forks a `chmod` process for
  * the file and again for its `.crc` sidecar, and a `FileContext` rename
  * forks `readlink`: a few KB of chunks took seconds. Here the temp and its
  * sidecar are written directly, then each moves with
  * `Files.move(ATOMIC_MOVE)`, a `rename(2)` that atomically replaces the
  * destination; no process starts. The sidecar keeps Hadoop's format,
  * `.<name>.crc` holding `crc\0`, the int bytes-per-checksum, then one
  * big-endian CRC32 per chunk (computed by Hadoop's `DataChecksum`), so
  * `LocalFileSystem` readers verify it as their own. The data file moves
  * before its sidecar (a reader of a fresh file sees it unverified, never
  * missing), and twins in one JVM move their pair under one lock, so the
  * final pair always matches even when twins write different bytes (Avro's
  * random sync marker). The bytes count in Hadoop's `file` statistics, as
  * Hadoop's own writes do.
  *
  * On any other file system (HDFS, object stores, wrappers) the commit is
  * Hadoop's: `create`, then `FileContext.rename(OVERWRITE)`, falling back
  * to `FileSystem.rename` where no `FileContext` binding exists.
  */
object FileCommit {

  /** Write `dest` through `body` and commit it as described above. */
  def write(fs: FileSystem, dest: Path)(body: OutputStream => Unit): Unit = {
    val attempt = Option(org.apache.spark.TaskContext.get())
      .fold(s"driver-${Thread.currentThread.getId}")(_.taskAttemptId().toString)
    val tmp = new Path(dest.getParent, s".${dest.getName}.$attempt.tmp")
    fs match {
      case local: LocalFileSystem => commitLocal(local, tmp, dest, body)
      case _ => commitHadoop(fs, tmp, dest, body)
    }
  }

  def writeBytes(fs: FileSystem, dest: Path, bytes: Array[Byte]): Unit =
    write(fs, dest)(_.write(bytes))

  private val Magic = Array[Byte]('c', 'r', 'c', 0)
  private val stripes = Array.fill(64)(new Object)

  private def commitLocal(fs: LocalFileSystem, tmp: Path, dest: Path,
                          body: OutputStream => Unit): Unit = {
    def file(p: Path) = fs.pathToFile(p).toPath
    val (tmpData, tmpSums) = (file(tmp), file(fs.getChecksumFile(tmp)))
    val (data, sums) = (file(dest), file(fs.getChecksumFile(dest)))
    try {
      Files.createDirectories(data.getParent)
      val out = new Summed(Files.newOutputStream(tmpData), Files.newOutputStream(tmpSums),
        fs.getBytesPerSum)
      try body(out) finally out.close()
      stripes(Math.floorMod(data.hashCode, stripes.length)).synchronized {
        Files.move(tmpData, data, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmpSums, sums, StandardCopyOption.ATOMIC_MOVE)
      }
      rawStatistics(fs).incrementBytesWritten(out.written)
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(tmpData); Files.deleteIfExists(tmpSums)
        throw e
    }
  }

  /** The `Statistics` Hadoop's own writes through `fs` count in (its raw
    * file system's; deprecated in favour of `StorageStatistics`, which is a
    * read-only view of the same counters). */
  @scala.annotation.nowarn("cat=deprecation")
  private def rawStatistics(fs: LocalFileSystem): FileSystem.Statistics =
    FileSystem.getStatistics(fs.getUri.getScheme, fs.getRawFileSystem.getClass)

  private def commitHadoop(fs: FileSystem, tmp: Path, dest: Path,
                           body: OutputStream => Unit): Unit = {
    try {
      val out = fs.create(tmp, true)
      try body(out) finally out.close()
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
    try {
      val qualified = fs.makeQualified(dest)
      FileContext.getFileContext(qualified.toUri, fs.getConf)
        .rename(fs.makeQualified(tmp), qualified, Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: IOException
          if fs.exists(dest) || fs.exists(tmp) =>
        // non-atomic fallback (delete, then rename) for file systems
        // without a FileContext binding; a temp that loses the race to a
        // twin's commit is dropped
        if (!fs.rename(tmp, dest)) {
          if (!fs.exists(dest))
            throw new IOException(s"commit rename failed for $dest")
          fs.delete(dest, false)
          if (!fs.rename(tmp, dest)) {
            if (!fs.exists(dest)) throw new IOException(s"commit rename failed for $dest")
            fs.delete(tmp, false)
          }
        }
    }
  }

  /** Passes bytes to `data` in whole checksum chunks and writes Hadoop's
    * `.crc` layout for them to `sums`; counts both in `written`. */
  private final class Summed(data: OutputStream, sumsOut: OutputStream, bytesPerSum: Int)
      extends OutputStream {
    private val dataOut = new BufferedOutputStream(data, 1 << 16)
    private val sums = new DataOutputStream(new BufferedOutputStream(sumsOut))
    private val sum = DataChecksum.newDataChecksum(DataChecksum.Type.CRC32, bytesPerSum)
    private val chunk = new Array[Byte](bytesPerSum)
    private var n = 0
    private var payload = 0L
    private var closed = false
    sums.write(Magic)
    sums.writeInt(bytesPerSum)

    def written: Long = payload + sums.size

    override def write(b: Int): Unit = {
      chunk(n) = b.toByte
      n += 1
      if (n == bytesPerSum) flushChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      val end = off + len
      while (o < end) {
        val k = math.min(end - o, bytesPerSum - n)
        System.arraycopy(b, o, chunk, n, k)
        n += k; o += k
        if (n == bytesPerSum) flushChunk()
      }
    }

    private def flushChunk(): Unit = if (n > 0) {
      dataOut.write(chunk, 0, n)
      sum.update(chunk, 0, n)
      sum.writeValue(sums, true)
      payload += n
      n = 0
    }

    override def close(): Unit = if (!closed) {
      closed = true
      try flushChunk() finally try dataOut.close() finally sums.close()
    }
  }
}
