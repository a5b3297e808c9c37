package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its metadata and open/create calls counted
  * in the Hadoop per-scheme statistics, which the stock local file system
  * leaves at zero. Installed as `fs.file.impl` in traced runs only. The
  * counts go to the statistics object the wrapped raw file system already
  * fills with bytes read and written (this wrapper's own is never set). */
class CountingFs extends LocalFileSystem {
  @annotation.nowarn("cat=deprecation")
  private lazy val stats =
    FileSystem.getStatistics(getUri.getScheme, getRawFileSystem.getClass)
  private def read(): Unit = stats.incrementReadOps(1)
  private def write(): Unit = stats.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    read(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    read(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    read(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    write(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    write(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    write(); super.mkdirs(f, permission)
  }
}
