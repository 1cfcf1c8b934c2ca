package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop filesystem with a count per metadata operation and the
  * time spent in directory listings. Hadoop's own FileSystem statistics
  * read 0 on the local filesystem, so the traced run swaps this in for the
  * `file` scheme. Counters are JVM-wide: executors run in the driver JVM
  * in local mode, and the ledger reads deltas around each operation.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { Rename.incrementAndGet(); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    Delete.incrementAndGet(); super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = { Mkdirs.incrementAndGet(); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Mkdirs.incrementAndGet(); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = timedList(super.listStatus(f))

  override def listLocatedStatus(f: Path) = timedList(super.listLocatedStatus(f))

  override def getFileStatus(f: Path): FileStatus = {
    GetFileStatus.incrementAndGet(); super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Open.incrementAndGet(); super.open(f, bufferSize)
  }

  private def timedList[A](body: => A): A = {
    ListStatus.incrementAndGet()
    val t0 = System.nanoTime()
    try body finally ListNanos.addAndGet(System.nanoTime() - t0)
  }
}

object CountingFileSystem {
  val Create, Rename, Delete, Mkdirs, ListStatus, GetFileStatus, Open, ListNanos = new AtomicLong

  /** Counter name → current value, in ledger order. */
  def snapshot(): Seq[(String, Long)] = Seq(
    "fs.create" -> Create.get, "fs.rename" -> Rename.get, "fs.delete" -> Delete.get,
    "fs.mkdirs" -> Mkdirs.get, "fs.list_status" -> ListStatus.get,
    "fs.get_file_status" -> GetFileStatus.get, "fs.open" -> Open.get,
    "fs.list_nanos" -> ListNanos.get)
}
