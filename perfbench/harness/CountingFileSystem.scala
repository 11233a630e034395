package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's local filesystem with a count of the calls made on it:
  * opens (reads), creates, renames, deletes and mkdirs (writes), and
  * directory listings. Hadoop's own `file` statistics count bytes but
  * not these calls. A traced run installs it as the cached `file:`
  * filesystem before the session starts.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
}

object CountingFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong

  /** Makes every later `file:` lookup in this JVM return a counting instance. */
  def install(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), conf)
    require(fs.isInstanceOf[CountingFileSystem], s"file: already resolved to ${fs.getClass.getName}")
  }
}
