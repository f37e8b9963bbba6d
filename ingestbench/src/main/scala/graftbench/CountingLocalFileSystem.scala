package graftbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's local filesystem with operation counters, installed as
  * `fs.file.impl` in the traced run only: Hadoop's local statistics count
  * bytes but no operations. Counts calls through the FileSystem API; the
  * FileContext API (stream checkpoints) is not counted. */
class CountingLocalFileSystem extends graft.hadoop.FastLocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.increment(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    writes.increment(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.increment(); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.increment(); super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.increment(); super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    stats.increment(); super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val reads, writes, lists, stats = new LongAdder

  def snapshot(): Map[String, Long] = Map(
    "read_ops" -> reads.sum(), "write_ops" -> writes.sum(),
    "list_ops" -> lists.sum(), "stat_ops" -> stats.sum())
}
