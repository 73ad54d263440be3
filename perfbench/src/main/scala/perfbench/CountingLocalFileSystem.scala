package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file` scheme with operation counts. Hadoop's local filesystem
  * counts bytes but never operations, so the traced run installs this
  * class (`fs.file.impl`) and reads the counts from the same
  * `FileSystem.Statistics` registry that carries the byte counts. Only the
  * entry points that do not call one another are counted, so each
  * logical call counts once: a listing is a read op and a large read op.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  // the wrapper's own `statistics` field is never set; register a
  // Statistics object for this class beside the raw filesystem's
  @annotation.nowarn("cat=deprecation")
  private lazy val stats = FileSystem.getStatistics("file", classOf[CountingLocalFileSystem])
  private def read(): Unit = stats.incrementReadOps(1)
  private def write(): Unit = stats.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = {
    read(); stats.incrementLargeReadOps(1); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path) = {
    read(); stats.incrementLargeReadOps(1); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path): Boolean = { write(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}
