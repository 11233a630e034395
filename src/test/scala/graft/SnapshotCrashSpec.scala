package graft

import graft.operators.{Retention, Snapshot}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.io.File
import java.util.concurrent.CountDownLatch

/** Every day-level snapshot verb crashed at every point of its commit.
  * Each run copies a tiny `tornfs://` snapshot (4 days, a few rows
  * each; renames are copy+delete, recursive deletes go file by file),
  * arms [[TornRenameFs]]'s budget at k = 1, 2, … ops from the commit
  * marker on, and after each crash runs recover (a read) and the next
  * statement (a no-op gc, a writer). Each snapshot must then equal its
  * state before the verb or after it — by manifest rows, by read-back
  * digests, by the file layout of its live and detached days and by its
  * mutation log — and hold no staging. OPTIMIZE FINAL commits one day
  * at a time, and every one of those commits is swept, so there each
  * day's layout is its before or its after layout.
  */
class SnapshotCrashSpec extends SparkSpec {

  private lazy val fs = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.tornfs.impl", classOf[TornRenameFs].getName)
    new Path("tornfs:///").getFileSystem(spark.sessionState.newHadoopConf())
  }

  private lazy val root = java.nio.file.Files.createTempDirectory("graft_crash").toString

  private val days = Seq("20240101", "20240102", "20240103", "20240104")

  private def day: Column = Retention.bucketDay(col("ts_s"))

  /** Four rows a day, plus one duplicate row on each of two days. */
  private lazy val src: DataFrame = {
    import spark.implicits._
    val rows = for (d <- 1 to 4; i <- 1 to 4)
      yield (d * 100L + i, if (i % 2 == 0) "click" else "view", i * 1.5, s"2024-01-0$d 0$i:00:00")
    (rows ++ Seq(rows(0), rows(9))).toDF("event_id", "event_type", "value", "ts")
      .select(col("event_id"), col("event_type"), col("value"), to_timestamp(col("ts")).as("ts_s"))
      .coalesce(1)
  }

  /** A named snapshot built once on tornfs (no checksum files), copied
    * fresh for every run.
    */
  private lazy val templates: Map[String, String] = {
    fs // registers the scheme
    def build(name: String)(write: String => Unit): (String, String) = {
      val dir = s"$root/template/$name"
      write("tornfs://" + dir)
      name -> dir
    }
    Map(
      build("full")(d => Snapshot.backup(src, col("ts_s"), d)),
      build("fragmented")(d => Snapshot.backup(src.repartition(2), col("ts_s"), d)),
      build("detached") { d =>
        Snapshot.backup(src, col("ts_s"), d)
        Snapshot.detachPartition(spark, d, days(1))
      },
      build("cold")(d => Snapshot.backup(src.filter(day < days(2)), col("ts_s"), d)),
      build("hot")(d => Snapshot.backup(src.filter(day >= days(2)), col("ts_s"), d)),
      build("doubled")(d =>
        Snapshot.backup(src.withColumn("value", col("value") * 2), col("ts_s"), d)))
  }

  private var runs = 0

  /** Fresh tornfs copies of `names`' templates. */
  private def fresh(names: Seq[String]): Seq[String] = {
    runs += 1
    names.map { n =>
      val dir = s"$root/run$runs/$n"
      FileUtils.copyDirectory(new File(templates(n)), new File(dir))
      "tornfs://" + dir
    }
  }

  /** Manifest rows, read-back digests, data files per live and
    * detached day, and the mutation log without its wall-clock times.
    */
  private type State = (Any, Set[Any], Map[String, Int], Seq[Any])

  private def state(dest: String): State = {
    val manifest = Snapshot.requireManifest(spark, dest)
    val readBack = Snapshot.digest(Snapshot.resolve(spark, dest)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDecimal(3))).toSet[Any]
    val local = new File(dest.stripPrefix("tornfs://"))
    val layout = (Option(local.listFiles).toSeq.flatten ++
        Option(new File(local, "_detached").listFiles).toSeq.flatten)
      .filter(_.getName.startsWith("bucket_day="))
      .map(d => s"${d.getParentFile.getName}/${d.getName}" ->
        d.listFiles.count(_.getName.startsWith("part-")))
      .toMap
    val log = Snapshot.mutations(spark, dest).drop("event_time_ms")
      .orderBy("mutation_id").collect().map(_.toSeq).toSeq
    ((manifest._1, manifest._2.sortBy(_._1)), readBack, layout, log)
  }

  private def noStaging(dest: String): Boolean =
    !new File(dest.stripPrefix("tornfs://"), Snapshot.TxnDir).exists()

  /** Crash `verb` at every op of its commit. Returns how many crash
    * points it had.
    */
  /** Content as `before`, and each day's file layout from `before` or `after`. */
  private def dayByDay(got: State, before: State, after: State): Boolean =
    got._1 == before._1 && got._2 == before._2 && got._4 == before._4 &&
      got._3.keySet == before._3.keySet &&
      got._3.forall { case (d, n) => before._3(d) == n || after._3(d) == n }

  private def sweep(snapshots: Seq[String], perDay: Boolean = false)(
      verb: Seq[String] => Unit): Int = {
    val before = fresh(snapshots).map(state)
    val after = {
      val d = fresh(snapshots)
      verb(d)
      d.map(state)
    }
    assert(before != after, "the verb must change something")
    if (perDay) assert(before.map(s => (s._1, s._2)) == after.map(s => (s._1, s._2)))
    var k = 0
    var done = false
    while (!done) {
      k += 1
      assert(k < 200, "the sweep does not end")
      val d = fresh(snapshots)
      TornRenameFs.armAtCommit(k)
      try { verb(d); done = true }
      catch { case e: Exception if TornRenameFs.crashed => () }
      finally TornRenameFs.disarm()
      d.foreach(Snapshot.parts(spark, _)) // recover: a read
      d.foreach(Snapshot.gc(spark, _, keepDays = 10000)) // the next statement
      val got = d.map(state)
      assert(got == before || got == after ||
          perDay && got.indices.forall(i => dayByDay(got(i), before(i), after(i))),
        s"crash at op $k left neither the before nor the after state: $got")
      if (done) assert(got == after, "the uncrashed run must land the after state")
      assert(d.forall(noStaging), s"crash at op $k left staging behind")
      d.foreach(p => FileUtils.deleteDirectory(new File(p.stripPrefix("tornfs://"))))
    }
    k - 1
  }

  private def dayPred(i: Int): Column = day === days(i)

  private val verbs: Seq[(String, Seq[String], Seq[String] => Unit)] = Seq(
    ("DELETE", Seq("full"), d => Snapshot.delete(spark, d.head,
      dayPred(0) || (col("event_type") === "click" && dayPred(1)))),
    ("UPDATE", Seq("full"), d => Snapshot.update(spark, d.head,
      col("event_type") === "click" && (dayPred(2) || dayPred(3)),
      Map("value" -> (col("value") + 1)))),
    ("OPTIMIZE DEDUPLICATE", Seq("full"), d => Snapshot.deduplicate(spark, d.head)),
    ("OPTIMIZE FINAL", Seq("fragmented"), d => Snapshot.compact(spark, d.head)),
    ("gc", Seq("full"), d => Snapshot.gc(spark, d.head, keepDays = 1)),
    ("DETACH PARTITION", Seq("full"), d => Snapshot.detachPartition(spark, d.head, days(2))),
    ("ATTACH PARTITION", Seq("detached"), d => Snapshot.attachPartition(spark, d.head, days(1))),
    ("DROP PARTITION", Seq("full"), d => Snapshot.dropPartition(spark, d.head, days(3))),
    ("MOVE PARTITION", Seq("hot", "cold"),
      d => Snapshot.movePartition(spark, d(0), d(1), days(2))),
    ("REPLACE PARTITION", Seq("doubled", "full"),
      d => Snapshot.replacePartition(spark, d(0), d(1), days(0))))

  verbs.foreach { case (name, snapshots, verb) =>
    test(s"crash sweep: $name lands wholly before or after at every commit op") {
      val t0 = System.nanoTime()
      val points = sweep(snapshots, perDay = name == "OPTIMIZE FINAL")(verb)
      assert(points > 3, s"$name's commit had only $points crash points")
      info(f"$points crash points in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  test("window 1: a DELETE crashed between two day swaps lands wholly before or after") {
    val Seq(dest) = fresh(Seq("full"))
    val Seq(before) = fresh(Seq("full"))
    val Seq(after) = fresh(Seq("full"))
    val pred = col("event_type") === "click" && (dayPred(0) || dayPred(1))
    val noop = col("event_type") === "no_such"
    Snapshot.delete(spark, after, pred)
    // the recovering no-op DELETE below logs a row of its own
    val want = Seq(before, after).map { d => Snapshot.delete(spark, d, noop); state(d) }
    // the first op on the second live day dies at once: the first day
    // is already swapped
    TornRenameFs.inject = Some(TornRenameFs.Inject(s"bucket_day=${days(1)}",
      copyBudget = 0, parentName = Some("full")))
    try intercept[Exception](Snapshot.delete(spark, dest, pred))
    finally TornRenameFs.inject = None
    // the next mutation runs every recovery there is
    Snapshot.delete(spark, dest, noop)
    assert(want.contains(state(dest)), "a half-applied DELETE must not survive recovery")
  }

  test("window 2: a DETACH crashed between its day move and its manifest lands wholly before or after") {
    val Seq(dest) = fresh(Seq("full"))
    val Seq(after) = fresh(Seq("full"))
    Snapshot.detachPartition(spark, after, days(1))
    val want = Seq(state(dest), state(after))
    TornRenameFs.inject = Some(TornRenameFs.Inject(s"bucket_day=${days(1)}",
      parentName = Some("full"), crashAfter = true))
    try intercept[Exception](Snapshot.detachPartition(spark, dest, days(1)))
    finally { TornRenameFs.inject = None; TornRenameFs.disarm() }
    Snapshot.gc(spark, dest, keepDays = 10000)
    assert(want.contains(state(dest)), "a half-applied DETACH must not survive recovery")
    // and the day can be brought back
    if (state(dest) == want(1)) Snapshot.attachPartition(spark, dest, days(1))
    assert(state(dest) == want(0))
  }

  test("window 3: a DELETE crashed between its day commit and its mutation log lands wholly " +
      "before or after") {
    val Seq(dest) = fresh(Seq("full"))
    val Seq(after) = fresh(Seq("full"))
    Snapshot.delete(spark, after, dayPred(0))
    val want = Seq(state(dest), state(after))
    // the first op after the commit deletes its staging dies: the days
    // and the manifest are live
    TornRenameFs.inject = Some(TornRenameFs.Inject(Snapshot.TxnDir, crashAfter = true))
    try Snapshot.delete(spark, dest, dayPred(0))
    catch { case _: Exception if TornRenameFs.crashed => () }
    finally { TornRenameFs.inject = None; TornRenameFs.disarm() }
    Snapshot.gc(spark, dest, keepDays = 10000)
    assert(want.contains(state(dest)), "a committed DELETE must be in the mutation log")
  }

  test("a MOVE source's link left before the commit point ties no read to the destination") {
    val Seq(src, dst) = fresh(Seq("hot", "cold"))
    val before = state(src)
    // a MOVE died after linking its source and before its marker
    val link = fs.create(new Path(s"$src/${Snapshot.TxnDir}/link"), true)
    try link.write(dst.getBytes("UTF-8")) finally link.close()
    // the destination's own DELETE dies just after its commit point,
    // and a live writer holds the destination's lease
    TornRenameFs.armAtCommit(2)
    try intercept[Exception](Snapshot.delete(spark, dst, dayPred(0)))
    finally TornRenameFs.disarm()
    val inLease = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => AtomicDir.withLease(dst) {
      inLease.countDown(); release.await()
    })
    holder.start(); inLease.await()
    try assert(state(src) == before, "the source reads as it was")
    finally { release.countDown(); holder.join() }
    Snapshot.gc(spark, src, keepDays = 10000) // the source's next writer
    assert(noStaging(src), "the source's next writer drops the stale link")
  }

  test("DELETE and DETACH fail fast while another thread holds the snapshot's lease") {
    val Seq(dest) = fresh(Seq("full"))
    val before = state(dest)
    val inLease = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => AtomicDir.withLease(dest) {
      inLease.countDown(); release.await()
    })
    holder.start(); inLease.await()
    try {
      intercept[AtomicDir.LeaseHeldException](
        Snapshot.delete(spark, dest, col("event_type") === "click"))
      intercept[AtomicDir.LeaseHeldException](Snapshot.detachPartition(spark, dest, days(0)))
    } finally { release.countDown(); holder.join() }
    assert(state(dest) == before, "a fenced verb must not have touched the snapshot")
  }
}
