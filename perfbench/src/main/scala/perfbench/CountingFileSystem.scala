package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the calls made through it: listings,
  * opens and status reads, and creates, renames, deletes and mkdirs. The
  * traced run installs it as `fs.file.impl`; the local file system's own
  * storage statistics count bytes but not these calls.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingFileSystem {
  val lists, reads, writes = new AtomicLong(0L)
}
