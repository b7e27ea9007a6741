package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting its operations the way HDFS's
  * statistics do (the stock local filesystem counts only bytes): creates,
  * appends, renames, deletes and mkdirs are write ops; opens, listings and
  * status lookups are read ops. Installed for traced runs only, as
  * `fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  private def write(): Unit = writeOps.incrementAndGet()
  private def read(): Unit = readOps.incrementAndGet()

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    write()
    super.append(f, bufferSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    write()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = { write(); super.mkdirs(f) }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    read()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }

  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
}

object CountingLocalFileSystem {
  val writeOps = new java.util.concurrent.atomic.AtomicLong()
  val readOps = new java.util.concurrent.atomic.AtomicLong()
}
