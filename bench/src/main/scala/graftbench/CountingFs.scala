package graftbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Count of local file-system calls (open, create, rename, delete, mkdirs,
  * list, status) made through Hadoop's FileSystem and FileContext APIs.
  * The local file system keeps byte counts but no operation counts, so the
  * benchmark installs the two counting subclasses below from its session
  * config; both only count and delegate.
  */
object FsOps {
  val count = new AtomicLong()
  def tick(): Unit = count.incrementAndGet()

  val conf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName)
}

/** The FileSystem API (`fs.file.impl`). */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsOps.tick
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    tick(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    tick()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    tick(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
}
