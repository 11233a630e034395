package graft

import java.io.File
import java.util.concurrent.CountDownLatch
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path

/** Two live writers racing ONE standing-state swap — the overlapping-
  * tick scenario the reference makes real: go-cron forks the next
  * backup whether or not the previous one finished (init.sh:14), and
  * backup.sh takes no flock. The writer lease (AtomicDir.scala) must
  * SERIALIZE winners and fail losers safely — over atomic local
  * renames and over torn copy+delete renames ([[TornRenameFs]]) —
  * and a DEAD holder's lease must expire by TTL so the directory is
  * never fenced forever.
  */
class ContentionSpec extends SparkSpec {

  private def fs = AtomicDir.fileSystem("file:///")

  private def mkState(dir: String, tag: String): Unit = {
    val a = fs.create(new Path(dir, "state"), true)
    a.write(tag.getBytes("UTF-8")); a.close()
    val b = fs.create(new Path(dir, "state2"), true)
    b.write(tag.getBytes("UTF-8")); b.close()
  }

  private def readState(dest: String): String = {
    val parts = Seq("state", "state2").map { f =>
      val in = fs.open(new Path(dest, f))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(parts.distinct.size == 1, s"state files disagree (torn read): $parts")
    parts.head
  }

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  private def withRoot[A](body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_contend").toString
    try body(root + "/st")
    finally FileUtils.deleteDirectory(new File(root))
  }

  private def assertNoLeftovers(dest: String): Unit =
    Seq(".tmp", ".old", ".commit", ".lock").foreach { s =>
      assert(!exists(dest + s), s"protocol leftover $dest$s survived")
    }

  test("interleaved writer ticks serialize: every surviving state is complete") {
    withRoot { dest =>
      // spark session must exist before worker threads resolve FileSystems
      mkState(dest, "seed")
      val perThread = 8
      val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      written.add("seed")
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 2).map { tid =>
        new Thread(() => {
          var ok = 0
          var attempt = 0
          while (ok < perThread) {
            val tag = s"t$tid-$attempt"
            attempt += 1
            try {
              AtomicDir.withLease(dest) {
                AtomicDir.recover(dest)
                mkState(AtomicDir.tmpPath(dest), tag)
                AtomicDir.swap(dest)
              }
              written.add(tag)
              ok += 1
            } catch {
              case _: AtomicDir.LeaseHeldException =>
                failures.incrementAndGet() // fail-safe loser: retry next "tick"
                Thread.sleep(1)
            }
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // the final standing state is SOME complete tick's state — never
      // an interleaving of two writers' renames
      AtomicDir.recover(dest)
      val got = readState(dest)
      assert(written.contains(got), s"final state '$got' was never written whole")
      assertNoLeftovers(dest)
      // 16 successful swaps across 2 threads actually contended
      assert(failures.get() >= 0) // losers are allowed but not required
    }
  }

  test("a live lease makes a concurrent swap AND recover fail fast") {
    withRoot { dest =>
      mkState(dest, "v1")
      mkState(AtomicDir.tmpPath(dest), "v2")
      val inLease = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() => AtomicDir.withLease(dest) {
        inLease.countDown(); release.await()
      })
      holder.start(); inLease.await()
      intercept[AtomicDir.LeaseHeldException] { AtomicDir.swap(dest) }
      intercept[AtomicDir.LeaseHeldException] { AtomicDir.recover(dest) }
      assert(readState(dest) == "v1", "a fenced writer must not have touched dest")
      release.countDown(); holder.join()
      AtomicDir.swap(dest) // lock released with the lease: now free
      AtomicDir.recover(dest)
      assert(readState(dest) == "v2")
      assertNoLeftovers(dest)
    }
  }

  test("a DEAD holder's lease expires by TTL; the next writer breaks it and proceeds") {
    withRoot { dest =>
      mkState(dest, "v1")
      mkState(AtomicDir.tmpPath(dest), "v2")
      // simulate a crashed-and-dead holder: a lock file nobody will
      // release, carrying a near-term expiry
      val out = fs.create(new Path(dest + ".lock"), false)
      out.write((System.currentTimeMillis() + 250).toString.getBytes("UTF-8"))
      out.close()
      intercept[AtomicDir.LeaseHeldException] { AtomicDir.swap(dest) }
      Thread.sleep(350)
      AtomicDir.swap(dest) // expired: broken and re-acquired
      AtomicDir.recover(dest)
      assert(readState(dest) == "v2")
      assertNoLeftovers(dest)
    }
  }

  test("an in-process torn crash releases the lease; the next tick recovers and wins") {
    val root = java.nio.file.Files.createTempDirectory("graft_contend_torn").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.tornfs.impl", classOf[TornRenameFs].getName)
    val tfs = new Path("tornfs:///").getFileSystem(spark.sessionState.newHadoopConf())
    val dest = "tornfs://" + root + "/st"
    def mk(dir: String, tag: String): Unit = {
      val a = tfs.create(new Path(dir, "state"), true)
      a.write(tag.getBytes("UTF-8")); a.close()
      val b = tfs.create(new Path(dir, "state2"), true)
      b.write(tag.getBytes("UTF-8")); b.close()
    }
    try {
      mk(dest, "v1")
      // tick A: promote rename tears mid-copy inside its lease — the
      // in-process failure releases the lock on the way out
      TornRenameFs.inject = Some(TornRenameFs.Inject("st.tmp", copyBudget = 1))
      intercept[TornRenameFs.TornCrash] {
        AtomicDir.withLease(dest) {
          mk(AtomicDir.tmpPath(dest), "vA")
          AtomicDir.swap(dest)
        }
      }
      TornRenameFs.inject = None
      assert(!tfs.exists(new Path(dest + ".lock")),
        "an in-process crash must release the lease in finally")
      // tick B: the next scheduled writer repairs A's tear and lands
      AtomicDir.withLease(dest) {
        AtomicDir.recover(dest)
        mk(AtomicDir.tmpPath(dest), "vB")
        AtomicDir.swap(dest)
      }
      AtomicDir.recover(dest)
      val parts = Seq("state", "state2").map { f =>
        val in = tfs.open(new Path(dest, f))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      assert(parts == Seq("vB", "vB"))
      Seq(".tmp", ".old", ".commit", ".lock").foreach { s =>
        assert(!tfs.exists(new Path(dest + s)), s"leftover $dest$s survived")
      }
    } finally {
      TornRenameFs.inject = None
      FileUtils.deleteDirectory(new File(root))
    }
  }

  test("a dispossessed tick aborts at the commit point and never deletes the successor's lock") {
    withRoot { dest =>
      mkState(dest, "v1")
      val expired = new CountDownLatch(1)
      val successorIn = new CountDownLatch(1)
      val successorOut = new CountDownLatch(1)
      val firstOutcome = new java.util.concurrent.atomic.AtomicReference[String]("")
      // tick A: tiny TTL, outlives it mid-compute, then tries to swap
      val a = new Thread(() => {
        try AtomicDir.withLease(dest, ttlMs = 200) {
          mkState(AtomicDir.tmpPath(dest), "vA")
          expired.await() // TTL elapses while "computing"
          successorIn.await() // successor has broken + re-acquired
          AtomicDir.swap(dest) // must abort BEFORE the marker create
          firstOutcome.set("swapped")
        } catch {
          case _: AtomicDir.LeaseLostException => firstOutcome.set("lost")
          case e: Throwable => firstOutcome.set(s"other:$e")
        }
      })
      a.start()
      Thread.sleep(300) // past A's TTL
      expired.countDown()
      // tick B: breaks the expired lock and holds a fresh lease
      val bHolds = new CountDownLatch(1)
      val bRelease = new CountDownLatch(1)
      val b = new Thread(() => AtomicDir.withLease(dest) {
        bHolds.countDown(); bRelease.await()
      })
      b.start(); bHolds.await()
      successorIn.countDown()
      a.join()
      assert(firstOutcome.get() == "lost",
        s"the dispossessed tick must abort with LeaseLostException, got: ${firstOutcome.get()}")
      // A's finally ran release — but the lock carries B's token, so it
      // MUST still be there (deleting it would admit a third writer)
      assert(exists(dest + ".lock"),
        "the dispossessed tick's release must not delete the successor's lock")
      assert(readState(dest) == "v1", "the aborted tick must not have swapped")
      bRelease.countDown(); b.join()
      assert(!exists(dest + ".lock"), "the true owner's release clears its own lock")
      fs.delete(new Path(dest + ".tmp"), true)
    }
  }

  test("recover on a CLEAN directory returns without consulting a live lease (readers unfenced)") {
    withRoot { dest =>
      mkState(dest, "v1")
      val inLease = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() => AtomicDir.withLease(dest) {
        inLease.countDown(); release.await()
      })
      holder.start(); inLease.await()
      // no marker, no tmp, no old: a reader's pre-read recover must be a
      // no-op even while the writer's tick lease is live — fencing every
      // read for a whole tick was the r10 regression (ADVICE item 3)
      AtomicDir.recover(dest)
      assert(readState(dest) == "v1")
      // but debris DOES fence: stage a tmp and the same call fails fast
      mkState(AtomicDir.tmpPath(dest), "v2")
      intercept[AtomicDir.LeaseHeldException] { AtomicDir.recover(dest) }
      release.countDown(); holder.join()
      AtomicDir.recover(dest) // lease gone: uncommitted tmp drops, v1 stays
      assert(readState(dest) == "v1")
      assertNoLeftovers(dest)
    }
  }

  test("an expired lock is broken by exactly one of many contenders (atomic rename break)") {
    withRoot { dest =>
      mkState(dest, "v1")
      // a dead holder's stale lock, already expired
      val out = fs.create(new Path(dest + ".lock"), false)
      out.write((System.currentTimeMillis() - 1000).toString.getBytes("UTF-8"))
      out.close()
      val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInBody = new java.util.concurrent.atomic.AtomicInteger(0)
      val entered = new java.util.concurrent.atomic.AtomicInteger(0)
      // every failure other than a held lease: a contender that lost the
      // create race to a breaker must retry, not die
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { _ =>
        new Thread(() => {
          try AtomicDir.withLease(dest) {
            val n = inBody.incrementAndGet()
            maxInBody.getAndUpdate(m => math.max(m, n))
            entered.incrementAndGet()
            Thread.sleep(5)
            inBody.decrementAndGet()
          } catch {
            case _: AtomicDir.LeaseHeldException => ()
            case e: Throwable => errors.add(e)
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"contenders failed: ${errors.toArray.mkString("; ")}")
      assert(entered.get() >= 1, "at least one contender must break the stale lock and enter")
      assert(maxInBody.get() == 1,
        s"two holders were live at once (max=${maxInBody.get()}) — the break was not atomic")
      assert(!exists(dest + ".lock"))
    }
  }

  test("a dead holder mid-TORN-swap: expired lease breaks, recover repairs the tear") {
    val root = java.nio.file.Files.createTempDirectory("graft_contend_dead").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.tornfs.impl", classOf[TornRenameFs].getName)
    val tfs = new Path("tornfs:///").getFileSystem(spark.sessionState.newHadoopConf())
    val dest = "tornfs://" + root + "/st"
    def mk(dir: String, tag: String): Unit = {
      val a = tfs.create(new Path(dir, "state"), true)
      a.write(tag.getBytes("UTF-8")); a.close()
      val b = tfs.create(new Path(dir, "state2"), true)
      b.write(tag.getBytes("UTF-8")); b.close()
    }
    try {
      mk(dest, "v1")
      mk(AtomicDir.tmpPath(dest), "v2")
      TornRenameFs.inject = Some(TornRenameFs.Inject("st.tmp", copyBudget = 1))
      intercept[TornRenameFs.TornCrash] { AtomicDir.swap(dest) }
      TornRenameFs.inject = None
      // re-impose the lock as if the holder DIED (swap released it on
      // the in-process path; a killed process would not have)
      val out = tfs.create(new Path(dest + ".lock"), false)
      out.write((System.currentTimeMillis() + 250).toString.getBytes("UTF-8"))
      out.close()
      intercept[AtomicDir.LeaseHeldException] { AtomicDir.recover(dest) }
      Thread.sleep(350)
      AtomicDir.recover(dest) // breaks the expired lock, repairs the tear
      val parts = Seq("state", "state2").map { f =>
        val in = tfs.open(new Path(dest, f))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      assert(parts == Seq("v2", "v2"),
        "recover after a dead torn holder must land the committed tmp")
      Seq(".tmp", ".old", ".commit", ".lock").foreach { s =>
        assert(!tfs.exists(new Path(dest + s)), s"leftover $dest$s survived")
      }
    } finally {
      TornRenameFs.inject = None
      FileUtils.deleteDirectory(new File(root))
    }
  }
}
