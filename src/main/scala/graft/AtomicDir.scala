package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe directory swap for standing state maintained by
  * write-new-then-swap loops ([[streaming.ProjectionStream]],
  * [[streaming.MomentsStream]], [[pipeline.IndexLifecycle]], the
  * snapshot sidecars), and the one commit of every day-level snapshot
  * verb ([[operators.Snapshot]]). A naive delete-then-rename has a window where
  * NO standing directory exists: a crash there makes the next run
  * treat the state as empty and silently drop every previously
  * accumulated partial.
  *
  * All paths go through the Hadoop [[FileSystem]] API resolved from
  * the path's own scheme — the same resolution the snapshot layer
  * uses (Snapshot.scala) — so the commit primitive is URI-portable:
  * `file:`, `hdfs:`, an object-store connector, or a custom test
  * scheme all take the identical code path ([[PortableFsSpec]] drives
  * the battery through a non-`file:` scheme end to end).
  *
  * One commit of N staged→live moves ([[commit]]; [[swap]] is its
  * one-move case, `dest.tmp` → `dest` under marker `dest.commit`):
  *
  *   1. create the marker listing every (staged, live) move
  *      (THE commit point: one small file create — atomic even on
  *      object stores)
  *   2. per move: delete live (a swap renames it to `dest.old`), then
  *      rename staged -> live
  *   3. delete the set-aside `dest.old`, then the marker (cleanup only)
  *
  * [[recover]] rolls a crash at any window to a deterministic winner:
  * marker present ⇒ the fully-written staged side was committed, so it
  * (or the live path it already became) wins and any partial/old state
  * drops; marker absent ⇒ nothing committed, so the old state wins and
  * uncommitted staging drops. On a store whose rename is copy+delete
  * (no atomicity), the marker is what keeps the outcome
  * deterministic: a torn rename can leave both halves, and the marker
  * says which half is authoritative. Callers run [[recover]] before
  * every read of the standing directory; a CLEAN directory (no
  * marker, no tmp, no old) returns immediately WITHOUT consulting the
  * writer lock, so readers are fenced only during the actual swap
  * windows, never for the length of a compute tick. A commit staged
  * in its own directory (the snapshot verbs' `_graft_txn/`) recovers
  * through [[recoverStaged]].
  *
  * '''Writer lease''' (`dest.lock`): the crash windows above assume ONE
  * writer at a time, but the reference's scheduler happily overlaps
  * ticks — go-cron forks the next backup whether or not the previous
  * one finished (init.sh:14, no flock anywhere in backup.sh). Two
  * interleaved swaps could interleave their renames (A's set-aside
  * between B's set-aside and promote ⇒ B's recover promotes A's tmp
  * over B's). So every swap — and every standing-state TICK via
  * [[withLease]] — runs under a lock file carrying a lease expiry AND
  * a holder-unique owner token:
  *
  *   - the loser of a race fails fast ([[LeaseHeldException]], retry
  *     next tick); an in-process failure releases in `finally`; only
  *     a DEAD holder leaves the lock to expire by TTL.
  *   - expired locks are broken ATOMICALLY: the breaker RENAMES the
  *     lock to a breaker-unique name first and only the successful
  *     renamer proceeds — two contenders reading the same stale
  *     expiry can never both break it (rename is the one primitive
  *     the rest of the protocol already relies on; a read-then-delete
  *     break would be a TOCTOU admitting two holders).
  *   - `create(overwrite=false)` on a local filesystem is itself
  *     exists-then-create, so a "successful" create is confirmed by
  *     READING THE TOKEN BACK: if a racing contender's token landed
  *     instead, this contender lost and fails fast.
  *   - release deletes the lock ONLY while it still carries this
  *     holder's token — a lease that expired mid-tick and was broken
  *     by the next writer is never deleted out from under that
  *     writer (which would have admitted a third).
  *   - [[commit]] re-verifies ownership at the COMMIT POINT and renews
  *     the expiry while it still holds it ([[LeaseLostException]]
  *     aborts the tick BEFORE any rename if the lease was lost), so a
  *     tick that outlives its TTL fails cleanly instead of
  *     interleaving renames with the successor's protocol.
  *
  * ([[ContentionSpec]] drives the races over atomic and torn renames.)
  */
object AtomicDir {

  /** Hadoop conf: the active session's (so `spark.hadoop.*` overrides
    * and custom `fs.<scheme>.impl` registrations apply), or a plain
    * default when called outside any session.
    */
  private[graft] def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf())

  /** The staging path callers write the new state to. */
  def tmpPath(dest: String): String = dest + ".tmp"

  private def markerPath(dest: String) = dest + ".commit"

  private def lockPath(dest: String) = new Path(dest + ".lock")

  /** FileSystem for an arbitrary path string, resolved from its scheme
    * with the active session's conf — shared with the standing-state
    * loops so their marker/existence checks take the same URI-portable
    * path as the swap itself (never `java.io.File`).
    */
  private[graft] def fileSystem(path: String): FileSystem = fsOf(new Path(path))

  /** Default writer-lease TTL — sized to a standing-state TICK, not to
    * the handful of renames inside it: [[operators.BackupLoop]] and the
    * streaming merge loops hold the lease across whole ticks (backup +
    * validation + GC), which at rehearsal scale run minutes. The TTL
    * exists only so a lease whose holder DIED (not merely crashed its
    * protocol — an in-process failure releases in `finally`) cannot
    * fence the directory forever; a live holder additionally RENEWS at
    * every swap commit point, so even a tick longer than the TTL keeps
    * its fence as long as no successor has broken the lock in between
    * (and aborts cleanly via [[LeaseLostException]] if one has).
    */
  val DefaultLeaseTtlMs: Long = 600000L

  /** A live writer already holds the `dest` lease — the overlapping-tick
    * scenario (a backup slower than its schedule: go-cron forks the next
    * tick regardless, init.sh:14). Callers fail the tick and retry on
    * their next schedule; they must NOT break the lock.
    */
  final class LeaseHeldException(msg: String) extends java.io.IOException(msg)

  /** This holder's lease was broken mid-tick (its TTL elapsed and a
    * successor took over). Thrown at the swap's commit-point ownership
    * check — BEFORE any rename — so the dispossessed tick aborts
    * without ever interleaving with the new holder's protocol.
    */
  final class LeaseLostException(msg: String) extends java.io.IOException(msg)

  /** Leases this thread currently holds, dest → owner token
    * (re-entrancy: a swap inside `withLease` must not dead-fail
    * against its own lock).
    */
  private val held = new ThreadLocal[scala.collection.mutable.Map[String, String]] {
    override def initialValue() = scala.collection.mutable.Map.empty[String, String]
  }

  /** Lock-file payload: expiry epoch-ms, newline, owner token. A legacy
    * or hand-written lock carrying only the expiry line parses with an
    * empty token (breakable on expiry, never release-matched).
    */
  private def readLock(fs: FileSystem, lock: Path,
      ttlMs: Long): Option[(Long, String)] =
    try {
      val in = fs.open(lock)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = s.split("\n", 2)
      val expiry =
        try lines(0).trim.toLong
        catch {
          // created-but-not-yet-written (or torn by two concurrent
          // non-atomic creates): treat as an anonymous lock expiring
          // one TTL after the file's own mtime — breakable, never ours
          case _: RuntimeException =>
            fs.getFileStatus(lock).getModificationTime + ttlMs
        }
      val token =
        if (lines.length > 1 && lines(0).trim.nonEmpty) lines(1).trim else ""
      Some((expiry, token))
    } catch {
      case _: java.io.FileNotFoundException => None
      case _: java.io.IOException => None // vanished mid-read: same as absent
    }

  private def writeLock(fs: FileSystem, lock: Path, ttlMs: Long, token: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(lock, overwrite)
    try out.write((System.currentTimeMillis() + ttlMs + "\n" + token).getBytes("UTF-8"))
    finally out.close()
  }

  /** Break an expired lock ATOMICALLY: rename it to a breaker-unique
    * name; only the contender whose rename succeeds has broken it (and
    * deletes the set-aside). Returns whether THIS caller was the
    * breaker — either way the original lock path is (being) cleared
    * and the caller may retry its create.
    */
  private def breakExpired(fs: FileSystem, lock: Path, token: String): Boolean = {
    val aside = new Path(lock.getParent, lock.getName + ".broken." + token)
    val won = try fs.rename(lock, aside) catch { case _: java.io.IOException => false }
    if (won) fs.delete(aside, false)
    won
  }

  /** Acquire the writer lease on `dest`: one small-file create carrying
    * the lease expiry and a fresh owner token, confirmed by read-back
    * (local `create(overwrite=false)` is not truly atomic). A live
    * (unexpired) foreign lock fails fast with [[LeaseHeldException]];
    * an expired lock is broken via [[breakExpired]] — its holder is
    * dead, and the swap protocol itself (marker + recover) guarantees
    * whatever it left mid-flight repairs deterministically. Returns the
    * owner token on success.
    */
  /** JVM-wide gate around the create-write-close-readback critical
    * section: a local filesystem's `create(overwrite=false)` is
    * exists-then-create, so two SAME-PROCESS threads (exactly the
    * local-mode overlapping-tick case) could interleave creates and
    * tear each other's content. The gate makes the in-process race
    * exact; the cross-process residue is covered by the read-back
    * token check below (and is absent on HDFS/object stores, whose
    * exclusive create is genuinely atomic).
    */
  private val jvmGate = new Object

  private def acquire(fs: FileSystem, dest: String, ttlMs: Long): String = {
    val lock = lockPath(dest)
    val token = java.util.UUID.randomUUID().toString
    var attempts = 0
    var lastError: java.io.IOException = null
    while (true) {
      attempts += 1
      if (attempts > 100)
        throw new java.io.IOException(s"livelock acquiring lease on $dest", lastError)
      val created = jvmGate.synchronized {
        try { writeLock(fs, lock, ttlMs, token, overwrite = false); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          // lost to another creator (the lock exists), or to a breaker
          // that deleted the lock mid-create (a local create sets the
          // file's permissions after creating it): both retry
          case e: java.io.IOException => lastError = e; false
        }
      }
      if (created) {
        // read-back confirmation: on a filesystem whose exclusive
        // create is exists-then-create, two contenders can both
        // "succeed" — the token that actually landed decides
        readLock(fs, lock, ttlMs) match {
          case Some((_, tok)) if tok == token => return token
          case Some((e, _)) if System.currentTimeMillis() <= e =>
            throw new LeaseHeldException(
              s"writer lease on $dest lost to a concurrent creator " +
                s"(held until epoch-ms $e)")
          case _ => () // foreign-but-expired or vanished: retry
        }
      } else {
        readLock(fs, lock, ttlMs) match {
          case Some((e, _)) if System.currentTimeMillis() > e =>
            breakExpired(fs, lock, token) // stale: holder died
          case Some((e, _)) =>
            throw new LeaseHeldException(
              s"writer lease on $dest held until epoch-ms $e — " +
                "concurrent swap in flight (overlapping tick?)")
          case None => () // lock vanished between create and read: retry
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Release only OUR lock: a lease that expired and was broken by a
    * successor carries the successor's token now — deleting it would
    * admit a third writer under the successor's feet.
    */
  private def release(fs: FileSystem, dest: String, token: String): Unit = {
    val lock = lockPath(dest)
    try readLock(fs, lock, 0L) match {
      case Some((_, tok)) if tok == token => fs.delete(lock, false)
      case _ => () // not ours anymore (broken + re-acquired), or gone
    } catch {
      // a failed release must never mask the body's own outcome; the
      // worst case is a lock that waits out its TTL like a dead holder's
      case _: java.io.IOException => ()
    }
  }

  /** Re-assert THIS thread's ownership of the `dest` lease and renew
    * its expiry — called at every commit point so (a) a dispossessed
    * tick aborts before its first rename and (b) a healthy tick longer
    * than the TTL keeps extending its fence. The renewal overwrite is
    * safe: only the verified current owner performs it.
    */
  private def verifyAndRenew(fs: FileSystem, dest: String, ttlMs: Long): Unit = {
    val token = held.get.getOrElse(dest,
      throw new IllegalStateException(s"verifyAndRenew outside withLease for $dest"))
    val lock = lockPath(dest)
    readLock(fs, lock, ttlMs) match {
      case Some((_, tok)) if tok == token => writeLock(fs, lock, ttlMs, token, overwrite = true)
      case other =>
        throw new LeaseLostException(
          s"lease on $dest no longer held by this tick (lock=$other) — " +
            "TTL elapsed and a successor took over; aborting before the commit point")
    }
  }

  /** Run `body` holding the writer lease on `dest` — the
    * write-new-then-swap loops wrap their WHOLE tick (recover → marker
    * read → compute → write tmp → swap) in this, so two overlapping
    * ticks serialize: the loser fails fast with [[LeaseHeldException]]
    * instead of interleaving renames with the winner's protocol.
    * Re-entrant per thread. The lock releases in `finally` (an
    * in-process failure — including a torn rename — frees the
    * directory immediately; only a DEAD holder leaves the lock to
    * expire by TTL), and only while it still carries this holder's
    * token.
    */
  def withLease[A](dest: String, ttlMs: Long = DefaultLeaseTtlMs)(body: => A): A = {
    if (held.get.contains(dest)) return body
    val fs = fsOf(new Path(dest))
    val token = acquire(fs, dest, ttlMs)
    held.get(dest) = token
    try body
    finally {
      held.get -= dest
      release(fs, dest, token)
    }
  }

  /** One move of a [[commit]]: `staged` goes live at `live` (None
    * retires `live`). With an `aside` (a swap's `dest.old`) the old
    * state waits there until the commit ends; without one it is deleted.
    */
  final case class Move(staged: Option[String], live: String, aside: Option[String] = None)

  /** The one-move commit [[swap]] and [[recover]] run for `dest`. */
  private def oneMove(dest: String) = Move(Some(tmpPath(dest)), dest, Some(dest + ".old"))

  /** Swap the fully-written `dest`.tmp into place over `dest`: the
    * one-move [[commit]], under the writer lease (the caller's, inside
    * [[withLease]]).
    */
  def swap(dest: String): Unit =
    withLease(dest)(commit(markerPath(dest), Seq(oneMove(dest)), Seq(dest)))

  /** THE commit: all `moves` go live, or none does. Each staged path
    * must be fully written; nothing live changes before the commit
    * point, one small-file create of the marker that lists the moves.
    * After it the moves roll forward exactly as [[recover]] would roll
    * a crash among them forward. Runs inside the caller's [[withLease]]
    * on every `leases` entry; each is re-verified (and renewed) right
    * before the marker, so a tick whose lease was broken mid-compute
    * aborts with [[LeaseLostException]] before touching anything.
    */
  private[graft] def commit(marker: String, moves: Seq[Move], leases: Seq[String]): Unit = {
    val m = new Path(marker)
    val fs = fsOf(m)
    if (fs.exists(m))
      throw new java.io.IOException(
        s"commit: unrecovered commit marker at $marker — run recover first")
    moves.foreach { mv =>
      if (mv.staged.exists(s => !fs.exists(new Path(s))))
        throw new java.io.IOException(s"commit: nothing staged at ${mv.staged.get}")
      mv.aside.map(new Path(_)).filter(fs.exists).foreach(fs.delete(_, true)) // stale leftover
    }
    leases.foreach(l => verifyAndRenew(fileSystem(l), l, DefaultLeaseTtlMs))
    // the commit point: from here the staged paths are authoritative
    val out = fs.create(m, false)
    try out.write(moves.map(mv => Seq(mv.staged, Some(mv.live), mv.aside).map(_.getOrElse(""))
        .mkString("\t")).mkString("", "\n", "\nend\n").getBytes("UTF-8"))
    finally out.close()
    rollForward(fs, m, moves, resumed = false)
  }

  /** Make every move of the committed marker `m` live, then clean up.
    * Each step re-reads what a crash may have left, so a rerun from any
    * point lands the same state. On a copy+delete store a rename can
    * tear two ways: a partial copy, or a whole copy whose source delete
    * died part-way. So a `resumed` run keeps a live copy beside its
    * staged source only when live holds every file the source still
    * holds, byte for byte (the copy finished; only its source is left
    * to delete); otherwise live drops and the staged side promotes
    * again. A fresh run knows live is the old state.
    */
  private def rollForward(fs: FileSystem, m: Path, moves: Seq[Move], resumed: Boolean): Unit = {
    moves.foreach { mv =>
      val live = new Path(mv.live)
      val aside = mv.aside.map(new Path(_))
      mv.staged.map(new Path(_)) match {
        case None => fs.delete(live, true)
        case Some(s) if !fs.exists(s) =>
          // promoted already; if live is gone too, the set-aside copy is
          // the only one left — surface it rather than nothing
          aside.filter(a => !fs.exists(live) && fs.exists(a)).foreach(move(fs, _, live))
        case Some(s) if resumed && fs.exists(live) && holds(fs, live, s) =>
          fs.delete(s, true)
        case Some(s) =>
          // live is the old state or a torn copy: a swap sets it aside
          // once; a second copy (after a torn set-aside) just drops
          if (fs.exists(live)) aside.filterNot(fs.exists) match {
            case Some(a) => move(fs, live, a)
            case None => fs.delete(live, true)
          }
          move(fs, s, live)
      }
    }
    moves.flatMap(_.aside).map(new Path(_)).filter(fs.exists).foreach(fs.delete(_, true))
    fs.delete(m, false)
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"commit: cannot move $from -> $to")

  /** Whether directory `live` holds every file under `staged`, at the
    * same relative path and byte for byte. A listing walk, not
    * `listFiles` (see [[operators.Snapshot.zipDirectory]]).
    */
  private def holds(fs: FileSystem, live: Path, staged: Path): Boolean =
    fs.listStatus(staged).forall { st =>
      val l = new Path(live, st.getPath.getName)
      if (st.isDirectory) fs.exists(l) && holds(fs, l, st.getPath)
      else fs.exists(l) && fs.getFileStatus(l).getLen == st.getLen && sameBytes(fs, st.getPath, l)
    }

  private def sameBytes(fs: FileSystem, a: Path, b: Path): Boolean = {
    val (x, y) = (fs.open(a), fs.open(b))
    try {
      val (bx, by) = (new Array[Byte](1 << 16), new Array[Byte](1 << 16))
      var (n, same) = (1, true)
      while (same && n > 0) {
        n = x.readNBytes(bx, 0, bx.length)
        same = y.readNBytes(by, 0, by.length) == n && java.util.Arrays.equals(bx, 0, n, by, 0, n)
      }
      same
    } finally { x.close(); y.close() }
  }

  /** The moves a marker lists; `Some(Nil)` for an empty marker (the
    * swap's pre-list form: its one move is implied), None when there
    * is no marker or its write never finished (no `end` line — the
    * commit point was not reached).
    */
  private def readMarker(fs: FileSystem, m: Path): Option[Seq[Move]] = {
    val text =
      try { val in = fs.open(m); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
      catch { case _: java.io.FileNotFoundException => return None }
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    if (lines.isEmpty) Some(Nil)
    else if (lines.last != "end") None
    else Some(lines.init.map { l =>
      val Array(staged, live, aside) = l.split("\t", -1)
      Move(Some(staged).filter(_.nonEmpty), live, Some(aside).filter(_.nonEmpty))
    })
  }

  /** Before a repair: fail fast while a LIVE foreign writer holds the
    * `dest` lease (repair mid-protocol would steal its staging), break
    * an EXPIRED one (dead holder) atomically, pass when this thread
    * holds it.
    */
  private def fence(fs: FileSystem, dest: String): Unit = {
    if (held.get.contains(dest)) return
    val lock = lockPath(dest)
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 100)
        throw new java.io.IOException(s"livelock breaking lease in recover($dest)")
      readLock(fs, lock, DefaultLeaseTtlMs) match {
        case Some((e, _)) if System.currentTimeMillis() > e =>
          // same atomic break as acquire: only the renamer proceeds;
          // a losing rename loops to re-read whatever replaced it
          if (breakExpired(fs, lock, java.util.UUID.randomUUID().toString)) return
        case Some((e, _)) =>
          throw new LeaseHeldException(
            s"recover($dest): writer lease live until epoch-ms $e — " +
              "swap in flight, repair would steal its tmp")
        case None => return
      }
    }
  }

  /** Repair any half-finished swap at `dest`. Idempotent; call before
    * reading the standing state. A CLEAN directory — no commit marker,
    * no tmp, no set-aside old — returns immediately WITHOUT consulting
    * the writer lock: a lease spans a whole compute tick, and fencing
    * every reader for its duration would turn routine backups into
    * read outages. With debris present, [[fence]] decides.
    */
  def recover(dest: String): Unit = {
    val fs = fsOf(new Path(dest))
    if (Seq(markerPath(dest), tmpPath(dest), dest + ".old").exists(p => fs.exists(new Path(p))))
      settle(fs, dest, new Path(markerPath(dest)), Seq(oneMove(dest)))
  }

  /** [[recover]] for a commit staged in directory `txn` (marker
    * `txn/commit`) under `lease`. Before the marker nothing live has
    * changed, so uncommitted staging is only discarded, by the lease's
    * holder (the next writer): a reader leaves it alone, unfenced.
    * With `touching`, only a committed marker that moves a path under
    * that directory counts, and nothing is discarded (a link's owner
    * may since have staged or committed work of its own).
    */
  private[graft] def recoverStaged(lease: String, txn: String,
      touching: Option[String] = None): Unit = {
    val t = new Path(txn)
    val fs = fsOf(t)
    val m = new Path(t, "commit")
    val committed = readMarker(fs, m)
      .exists(_.exists(mv => touching.forall(d => mv.live.startsWith(d + "/"))))
    if (committed || (touching.isEmpty && held.get.contains(lease) && fs.exists(t))) {
      settle(fs, lease, m, Nil)
      fs.delete(t, true)
    }
  }

  /** Land a crashed commit on its winner. Marker present: the staged
    * side won, so every listed move rolls forward. Marker absent (or
    * torn before its `end` line): nothing committed; the pre-marker
    * windows of the implied moves (states the pre-marker protocol
    * could leave) repair to the old state, and stray staging drops.
    */
  private def settle(fs: FileSystem, lease: String, m: Path, implied: Seq[Move]): Unit = {
    fence(fs, lease)
    readMarker(fs, m) match {
      case Some(listed) =>
        rollForward(fs, m, if (listed.isEmpty) implied else listed, resumed = true)
      case None =>
        for (mv <- implied; a <- mv.aside) {
          val (live, aside) = (new Path(mv.live), new Path(a))
          if (!fs.exists(live) && fs.exists(aside)) {
            // crashed between set-aside and promote: a complete staged
            // copy promotes, else the old state restores
            move(fs, mv.staged.map(new Path(_)).filter(fs.exists).getOrElse(aside), live)
          }
          // leftovers of a crash before any rename (uncommitted tmp) or
          // after promote (old not yet deleted) are safe to drop
          if (fs.exists(live)) {
            fs.delete(aside, true)
            mv.staged.foreach(s => fs.delete(new Path(s), true))
          }
        }
        fs.delete(m, false)
    }
  }
}
