package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the metadata, open and create calls
  * made on it. Hadoop's own statistics count only bytes for the local
  * file system. The benchmark's session installs it as `fs.file.impl`;
  * `core.fs_ops` is the count over the traced passes. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.count

  override def getFileStatus(f: Path): FileStatus = count(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = count(super.listStatus(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = count(super.mkdirs(f, p))
  override def rename(src: Path, dst: Path): Boolean = count(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = count(super.delete(f, recursive))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = count(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    count(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
}

object CountingLocalFileSystem {
  val ops = new AtomicLong

  private def count[A](a: => A): A = { ops.incrementAndGet(); a }
}
