package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Store-operation counts for one filesystem scheme. The local
  * filesystems keep byte counts in Hadoop's statistics but no operation
  * counts, so the benchmark registers these subclasses for the schemes it
  * measures and counts the calls itself. */
final class OpCounts {
  val reads = new AtomicLong
  val writes = new AtomicLong
  def snapshot: (Long, Long) = (reads.get, writes.get)
}

object CountingFs {
  val objectStore = new OpCounts // graftfs://, the shuffle store
  val local = new OpCounts // file://, inputs, outputs and assets
}

/** `graftfs://` with operation counts: opens, listings and status reads
  * count as reads; creates, renames and deletes as writes. */
class CountingObjectFs extends graft.mr.GraftObjectFs {
  import CountingFs.objectStore.{reads, writes}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
}

/** `file://` (Hadoop's checksummed local filesystem) with write-side
  * operation counts: creates, renames, deletes and mkdirs. */
class CountingLocalFs extends LocalFileSystem {
  import CountingFs.local.writes
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}
