package org.apache.hadoop.fs.local

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local FileContext file system counting its calls in
  * [[graftbench.FsOps]] (`fs.AbstractFileSystem.file.impl`); Spark's
  * streaming checkpoint files go through this API. It lives in this package
  * because `LocalFs`'s constructor is package-private.
  */
class CountingLocalFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  import graftbench.FsOps.tick
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    tick(); super.open(f, bufferSize)
  }
  override def createInternal(f: Path, flag: EnumSet[CreateFlag],
      absolutePermission: FsPermission, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: ChecksumOpt,
      createParent: Boolean): FSDataOutputStream = {
    tick()
    super.createInternal(f, flag, absolutePermission, bufferSize, replication,
      blockSize, progress, checksumOpt, createParent)
  }
  override def renameInternal(src: Path, dst: Path): Unit = {
    tick(); super.renameInternal(src, dst)
  }
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    tick(); super.renameInternal(src, dst, overwrite)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick(); super.delete(f, recursive)
  }
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit = {
    tick(); super.mkdir(dir, permission, createParent)
  }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
}
