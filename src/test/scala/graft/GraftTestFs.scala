package graft

import java.net.URI
import org.apache.hadoop.fs.RawLocalFileSystem

/** A Hadoop [[org.apache.hadoop.fs.FileSystem]] registered under a
  * scheme that is NOT `file:` — local-disk storage behind a foreign
  * URI. Every snapshot/commit op driven through `graftfs://` paths
  * proves the op resolves its FileSystem from the path's scheme and
  * never shortcuts through `java.io.File` / default-FS assumptions —
  * the portability contract an `s3a://`-style destination relies on
  * ([[PortableFsSpec]]). Registered via `fs.graftfs.impl` on the
  * session's Hadoop conf.
  */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")
}

/** Local storage under `countfs://` that counts every open per path,
  * so a spec can tell how often each file is read, whoever reads it:
  * a Spark task or the driver ([[SnapshotJobCountSpec]]). Registered
  * via `fs.countfs.impl`.
  */
class CountingOpenFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingOpenFs.opens.merge(f.toUri.getPath, 1, (a: Integer, b: Integer) => a + b)
    super.open(f, bufferSize)
  }
}

object CountingOpenFs {
  /** Opens per path (the path part of the URI). */
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Integer]
}

/** A FileSystem whose `rename` is COPY-THEN-DELETE — the object-store
  * semantics AtomicDir's marker protocol exists for (AtomicDir.scala:
  * 38–41) — with injectable crash points, so the documented torn
  * windows (partial destination, both halves alive, source never
  * deleted) are EXECUTED by the real protocol code instead of
  * hand-built as aftermath states ([[TornRenameSpec]]). Registered
  * under `tornfs://` via `fs.tornfs.impl`.
  *
  * Every rename through this FS runs the copy+delete protocol, crash
  * injected or not — the happy-path swap over it proves the commit
  * primitive never depended on rename atomicity to begin with.
  */
class TornRenameFs extends RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, FileUtil, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getScheme: String = "tornfs"
  override def getUri: URI = URI.create("tornfs:///")

  /** Depth-first file-by-file copy in sorted order (deterministic
    * partial prefixes), decrementing the crash budgets per FILE: a
    * budget of 1 copies one file then dies — a genuinely torn
    * multi-file directory, exactly what a killed object-store copy
    * loop leaves.
    */
  private def copyTree(src: Path, dst: Path,
      budget: java.util.concurrent.atomic.AtomicInteger): Unit = {
    val st = getFileStatus(src)
    if (st.isDirectory) {
      mkdirs(dst)
      listStatus(src).sortBy(_.getPath.getName).foreach { c =>
        copyTree(c.getPath, new Path(dst, c.getPath.getName), budget)
      }
    } else {
      if (budget.decrementAndGet() < 0)
        throw new TornRenameFs.TornCrash(s"crash mid-copy before $src")
      TornRenameFs.tick(src)
      TornRenameFs.uncounted(FileUtil.copy(this, src, this, dst, false, getConf))
    }
  }

  private def injected(src: Path) = TornRenameFs.inject.filter(i => i.srcName == src.getName &&
    i.parentName.forall(_ == src.getParent.getName))

  private def budgetFor(inj: Option[TornRenameFs.Inject]) =
    new java.util.concurrent.atomic.AtomicInteger(inj.map(_.copyBudget).getOrElse(Int.MaxValue))

  override def rename(src: Path, dst: Path): Boolean = {
    val inj = injected(src)
    val budget = budgetFor(inj)
    if (!exists(src)) return false
    if (exists(dst)) return false
    copyTree(src, dst, budget)
    if (inj.exists(_.crashBeforeDelete))
      throw new TornRenameFs.TornCrash(
        s"crash after copy, before source delete: $src")
    delete(src, true)
    if (inj.exists(_.crashAfter)) TornRenameFs.crashNow()
    true
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    TornRenameFs.tick(f, creating = true)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    TornRenameFs.tick(f, creating = true)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  /** A recursive delete removes one file at a time, depth-first in
    * reverse-sorted order, each one op of the global budget (and of an
    * injected `copyBudget` on the deleted directory): a killed
    * object-store delete loop leaves a torn remainder. Data files go
    * before `_SUCCESS`, so a torn delete can leave a remainder that
    * holds no data at all.
    */
  override def delete(f: Path, recursive: Boolean): Boolean =
    if (recursive && exists(f) && getFileStatus(f).isDirectory) {
      val inj = injected(f)
      deleteTree(f, budgetFor(inj))
      TornRenameFs.deleted(f)
      if (inj.exists(_.crashAfter)) TornRenameFs.crashNow()
      true
    } else {
      TornRenameFs.tick(f, deleting = true)
      super.delete(f, recursive)
    }

  private def deleteTree(dir: Path, budget: java.util.concurrent.atomic.AtomicInteger): Unit = {
    listStatus(dir).sortBy(_.getPath.getName).reverse.foreach { c =>
      if (c.isDirectory) deleteTree(c.getPath, budget)
      else {
        if (budget.decrementAndGet() < 0)
          throw new TornRenameFs.TornCrash(s"crash mid-delete before ${c.getPath}")
        TornRenameFs.tick(c.getPath, deleting = true)
        super.delete(c.getPath, false)
      }
    }
    super.delete(dir, false)
  }
}

object TornRenameFs {
  /** The injected crash: fires on renames (and recursive deletes)
    * whose SOURCE directory name matches (`st` = the set-aside rename,
    * `st.tmp` = the promote) and, when `parentName` is given, whose
    * source's parent is so named (a snapshot's own day, not the
    * same-named day a Spark job commit renames). `copyBudget` = files
    * copied (or deleted) before dying mid-way; `crashBeforeDelete` =
    * die between the completed copy and the source delete (both halves
    * alive — the canonical torn state); `crashAfter` = complete the
    * rename (or delete), then die before the next op.
    */
  final case class Inject(srcName: String,
      copyBudget: Int = Int.MaxValue,
      crashBeforeDelete: Boolean = false,
      parentName: Option[String] = None,
      crashAfter: Boolean = false)

  final class TornCrash(msg: String) extends java.io.IOException(msg)

  @volatile var inject: Option[Inject] = None

  /** The global crash budget over every create, every per-file delete
    * and every per-file copy inside a rename: `armAtCommit(k)` arms it,
    * and it counts only inside commits — from a commit-marker create (a
    * name ending in `commit`, counted as one op) to the commit's end —
    * so Spark's own `_temporary` writes between commits are never
    * counted, and every commit of a verb (OPTIMIZE FINAL's per-day
    * ones too) is swept. The k-th counted op throws [[TornCrash]] — as
    * does every op after it, since a dead process does nothing more,
    * until [[disarm]]. A commit ends once its marker is deleted, and
    * for a snapshot commit once its staging directory (`_graft_txn`)
    * has been deleted too. Lease files are never counted: a dead
    * holder's lease waiting out its TTL is [[ContentionSpec]]'s subject.
    */
  private var left: Option[Int] = None
  private var counting = false
  private var markerGone = false
  @volatile private var dead = false
  private val copying = new ThreadLocal[Boolean] { override def initialValue() = false }

  def armAtCommit(k: Int): Unit = synchronized {
    left = Some(k); counting = false; dead = false; markerGone = false
  }

  def disarm(): Unit = synchronized { left = None; counting = false; dead = false }

  /** Whether a budget or a `crashAfter` injection has fired. */
  def crashed: Boolean = dead

  private def crashNow(): Unit = synchronized { left = Some(0); counting = true }

  private def uncounted[A](body: => A): A = {
    copying.set(true)
    try body finally copying.set(false)
  }

  private def tick(p: org.apache.hadoop.fs.Path, creating: Boolean = false,
      deleting: Boolean = false): Unit = synchronized {
    val name = p.getName
    if (copying.get || name.contains(".lock")) return
    if (creating && left.isDefined && name.endsWith("commit")) {
      counting = true
      markerGone = false
    }
    if (counting) left.foreach { n =>
      if (n <= 1) {
        left = Some(0)
        dead = true
        throw new TornCrash(s"crash budget spent before the op on $p")
      }
      left = Some(n - 1)
      if (deleting && name.endsWith("commit")) {
        markerGone = true
        if (p.getParent.getName != "_graft_txn") counting = false
      }
    }
  }

  /** A recursive delete of `p` finished: the snapshot commit's end. */
  private def deleted(p: org.apache.hadoop.fs.Path): Unit = synchronized {
    if (markerGone && p.getName == "_graft_txn") counting = false
  }
}
