package perfbench

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting metadata and data operations into
  * Hadoop's own `FileSystem.Statistics` (which the local filesystem
  * otherwise leaves at zero): opens and status probes as read ops,
  * listings as large read ops, creates, renames, deletes and mkdirs as
  * write ops. A traced run installs it for the `file` scheme.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  // the wrapped local filesystem keeps the inherited `statistics` for its
  // byte counts; the op counts go to this class's own entry
  @annotation.nowarn("cat=deprecation")
  private val ops = org.apache.hadoop.fs.FileSystem.getStatistics("file", classOf[CountingLocalFileSystem])
  private def read(): Unit = ops.incrementReadOps(1)
  private def list(): Unit = ops.incrementLargeReadOps(1)
  private def write(): Unit = ops.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int) = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { list(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    list(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}
