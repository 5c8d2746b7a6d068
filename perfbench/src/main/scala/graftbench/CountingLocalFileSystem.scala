package graftbench

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.util.Progressable

import java.util.concurrent.atomic.AtomicLong

/** The local file system with a count of the namespace and open calls
  * made through it, so the traced run can report file-system operations
  * per op (Hadoop's own storage statistics count none of these for the
  * local file system). Installed for every run as `fs.file.impl`, so
  * traced and untraced runs execute the same code.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val ops = new AtomicLong(0L)
}
