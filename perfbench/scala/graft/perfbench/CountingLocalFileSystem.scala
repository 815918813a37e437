package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting client-level calls, for the traced
  * run only (`fs.file.impl`). Hadoop's local statistics keep bytes but
  * no operation counts; these are the sink's metadata and data calls. A
  * call made inside another counted call (a recursive delete's listings,
  * a create's parent mkdirs) is part of that one call and not counted.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] =
    counted(lists)(super.listStatus(f))

  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    counted(lists) {
      // drain the walk inside the call, so its per-directory listings
      // stay part of this one client call
      val buf = scala.collection.mutable.ArrayBuffer.empty[LocatedFileStatus]
      val it = super.listFiles(f, recursive)
      while (it.hasNext) buf += it.next()
      val i = buf.iterator
      new RemoteIterator[LocatedFileStatus] {
        override def hasNext: Boolean = i.hasNext
        override def next(): LocatedFileStatus = i.next()
      }
    }

  override def getFileStatus(f: Path): FileStatus = counted(reads)(super.getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(reads)(super.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(creates)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = counted(writes)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(writes)(super.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(writes)(super.mkdirs(f, permission))
}

object CountingLocalFileSystem {
  val lists, reads, creates, writes = new AtomicLong
  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private def counted[T](c: AtomicLong)(body: => T): T =
    if (inCall.get()) body
    else {
      c.incrementAndGet()
      inCall.set(true)
      try body finally inCall.set(false)
    }

  /** The counters as the per-layer metric names use them. */
  def snapshot(): Map[String, Long] = Map(
    "fs_list_ops" -> lists.get, "fs_read_ops" -> reads.get,
    "fs_write_ops" -> (creates.get + writes.get), "files_written" -> creates.get)
}
