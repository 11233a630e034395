package graft

import graft.operators.{Relational, Retention, Snapshot}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The backup→validate→restore loop (backup.sh:45,47–65) and the
  * partition-pruning contract of the tier views.
  */
class SnapshotSpec extends SparkSpec {

  test("backup writes, validates, and restores losslessly") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s")
    val dest = Files.createTempDirectory("graft-snapshot").toString
    val n = Snapshot.backup(src, col("ts_s"), dest)
    assert(n == src.count())
    val back = Snapshot.restore(spark, dest).drop("bucket_day")
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "restore must reproduce the backed-up rows exactly")
  }

  test("compaction collapses day partitions to one file without changing content") {
    // repartition(8) fragments each day dir into multiple part files —
    // the layout a many-task writer or incremental ticks produce
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s", "value")
      .repartition(8)
    val dest = Files.createTempDirectory("graft-compact").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val beforeRows = Snapshot.restore(spark, dest).drop("bucket_day").collect().toSet
    val report = Snapshot.compact(spark, dest)
    assert(report.filesBefore > report.filesAfter,
      s"fragmented layout must shrink: $report")
    assert(report.daysCompacted.nonEmpty)
    // one file per day dir afterwards
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(dest)).map(_.getPath)
      .filter(_.getName.startsWith("bucket_day=")).foreach { d =>
        val parts = fs.listStatus(d).count(_.getPath.getName.startsWith("part-"))
        assert(parts == 1, s"$d still has $parts part files")
      }
    // content and manifest-backed GC survive the rewrite
    val afterRows = Snapshot.restore(spark, dest).drop("bucket_day").collect().toSet
    assert(afterRows == beforeRows, "compaction must not change content")
    val gcReport = Snapshot.gc(spark, dest, keepDays = 10000)
    assert(gcReport.deletedDays.isEmpty, "manifest must still be readable after compaction")
  }

  test("empty snapshot fails validation like the reference's exit 1") {
    val src = Relational.eventsSec(spark, sf).filter(lit(false))
      .select("event_id", "ts_s")
    val dest = Files.createTempDirectory("graft-snapshot-empty").toString
    intercept[IllegalArgumentException] {
      Snapshot.backup(src, col("ts_s"), dest)
    }
  }

  test("tier views prune snapshot partitions at the scan") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "event_type", "ts_s")
    val dest = Files.createTempDirectory("graft-snapshot-tiers").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val snap = Snapshot.restore(spark, dest)
    val day = snap.select(min("bucket_day")).head.getString(0)
    val view = Snapshot.dayView(snap, day)
    view.collect()
    val plan = view.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket_day"),
      s"day view must prune partitions, plan was:\n$plan")
    // the view equals a post-hoc filter of the full restore
    val want = snap.filter(col("bucket_day") === day)
    assert(view.exceptAll(want).isEmpty && want.exceptAll(view).isEmpty)
    // month view covers every day view of that month
    val month = day.substring(0, 6)
    assert(Snapshot.monthView(snap, month).count() >= view.count())
  }

  test("incremental backup writes only changed days; base+delta resolves to a full backup") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val baseDir = Files.createTempDirectory("graft-incr-base").toString
    Snapshot.backup(src, col("ts_s"), baseDir)

    // modify a strict subset of days: bump `value` on the earliest day,
    // drop the latest day entirely, leave the rest untouched
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0))
    assert(days.length >= 3, "fixture must span several days")
    val (first, last) = (days.head, days.last)
    val modified = src
      .filter(Retention.bucketDay(col("ts_s")) =!= last)
      .withColumn("value",
        when(Retention.bucketDay(col("ts_s")) === first, col("value") + 1)
          .otherwise(col("value")))

    val deltaDir = Files.createTempDirectory("graft-incr-delta").toString
    val (changed, total) = Snapshot.backupIncremental(modified, col("ts_s"), baseDir, deltaDir)
    assert(changed == 1, s"only the bumped day changed, got $changed")
    assert(total == days.length - 1, "the dropped day must leave the manifest")
    // the delta dataset physically contains ONLY the changed day
    val deltaPhysical = Snapshot.restore(spark, deltaDir)
    assert(deltaPhysical.select("bucket_day").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(first))

    // resolution ≡ an independent full backup of the modified data
    val fullDir = Files.createTempDirectory("graft-incr-full").toString
    Snapshot.backup(modified, col("ts_s"), fullDir)
    val resolved = Snapshot.resolve(spark, deltaDir)
    val full = Snapshot.resolve(spark, fullDir)
    assert(resolved.exceptAll(full).isEmpty && full.exceptAll(resolved).isEmpty,
      "base+delta must reproduce the full backup exactly")

    // chains resolve: an unchanged re-backup on top of the delta writes
    // zero data partitions and still resolves through both layers
    val delta2Dir = Files.createTempDirectory("graft-incr-delta2").toString
    val (changed2, total2) = Snapshot.backupIncremental(modified, col("ts_s"), deltaDir, delta2Dir)
    assert(changed2 == 0 && total2 == total)
    val resolved2 = Snapshot.resolve(spark, delta2Dir)
    assert(resolved2.exceptAll(full).isEmpty && full.exceptAll(resolved2).isEmpty)
  }

  test("gc physically deletes expired day partitions; restores exclude them") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s")
    val dest = Files.createTempDirectory("graft-gc").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    assert(days.length >= 3, "fixture must span several days")

    val report = Snapshot.gc(spark, dest, keepDays = 1)
    // expectation from the cutoff DATE predicate (strictly older than
    // max − 1 expires), robust to calendar gaps in the fixture days
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    def ld(s: String) = java.time.LocalDate.parse(s, fmt)
    val cutoff = ld(days.max).minusDays(1)
    val wantKept = days.filterNot(d => ld(d).isBefore(cutoff))
    assert(report.keptDays == wantKept &&
      report.deletedDays == days.filter(d => ld(d).isBefore(cutoff)))
    // physically gone, not just filtered
    report.deletedDays.foreach { d =>
      assert(!new java.io.File(s"$dest/bucket_day=$d").exists(), s"dir for $d survived gc")
    }
    // restore sees only the kept days, with their rows untouched
    val back = Snapshot.restore(spark, dest)
    assert(back.select("bucket_day").distinct().orderBy("bucket_day")
      .collect().map(_.getString(0)).toSeq == wantKept)
    val want = src.filter(Retention.bucketDay(col("ts_s")).isin(wantKept: _*))
    val got = back.drop("bucket_day")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "gc must not perturb surviving partitions")

    // idempotent: a second run with the same window deletes nothing
    assert(Snapshot.gc(spark, dest, keepDays = 1).deletedDays.isEmpty)
    // keepDays=0 keeps exactly the newest day — gc can never empty a snapshot
    assert(Snapshot.gc(spark, dest, keepDays = 0).keptDays == Seq(days.last))
    assert(Snapshot.restore(spark, dest).select("bucket_day").distinct()
      .collect().map(_.getString(0)).toSeq == Seq(days.last))

    // a bare dataset without a manifest is refused, like backupIncremental
    val bare = Files.createTempDirectory("graft-gc-bare").toString
    Retention.writeSnapshot(src, col("ts_s"), bare)
    intercept[IllegalArgumentException] { Snapshot.gc(spark, bare, 1) }
  }

  test("incremental chains still resolve after gc expires the delta's days") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val baseDir = Files.createTempDirectory("graft-gc-base").toString
    Snapshot.backup(src, col("ts_s"), baseDir)
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    val first = days.head
    // bump the EARLIEST day so the delta's only local partition is the
    // one gc will expire
    val modified = src.withColumn("value",
      when(Retention.bucketDay(col("ts_s")) === first, col("value") + 1)
        .otherwise(col("value")))
    val deltaDir = Files.createTempDirectory("graft-gc-delta").toString
    val (changed, _) = Snapshot.backupIncremental(modified, col("ts_s"), baseDir, deltaDir)
    assert(changed == 1)

    val report = Snapshot.gc(spark, deltaDir, keepDays = 0)
    assert(report.keptDays == Seq(days.last) && report.deletedDays.contains(first))
    // the expired delta partition is physically reclaimed
    assert(!new java.io.File(s"$deltaDir/bucket_day=$first").exists())
    // the chain still resolves — now entirely through the base
    val resolved = Snapshot.resolve(spark, deltaDir).drop("bucket_day")
    val want = src.filter(Retention.bucketDay(col("ts_s")) === days.last)
    assert(resolved.exceptAll(want).isEmpty && want.exceptAll(resolved).isEmpty,
      "post-gc resolution must serve the kept days from the base")
  }

  test("incremental backup fails fast on a manifest-less base") {
    val src = Relational.eventsSec(spark, sf).select("event_id", "ts_s")
    val bare = Files.createTempDirectory("graft-incr-bare").toString
    Retention.writeSnapshot(src, col("ts_s"), bare) // data, no manifest
    intercept[IllegalArgumentException] {
      Snapshot.backupIncremental(src, col("ts_s"), bare,
        Files.createTempDirectory("graft-incr-nope").toString)
    }
  }

  test("delete rewrites only the matching day partitions; restores exclude the rows") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-mut-del").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    val hitDays = days.take(2)
    val pred = col("event_type") === "click" &&
      Retention.bucketDay(col("ts_s")).isin(hitDays: _*)

    // fingerprint the files of an untouched day before the mutation
    val untouched = days.last
    def fileSig(day: String) = new java.io.File(s"$dest/bucket_day=$day")
      .listFiles().filter(_.getName.startsWith("part-"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted

    val sigBefore = fileSig(untouched)
    val report = Snapshot.delete(spark, dest, pred)
    assert(report.daysRewritten == hitDays && report.daysDropped.isEmpty,
      s"exactly the predicate's days rewrite: $report")
    assert(report.rowsAffected == src.filter(pred).count())
    assert(fileSig(untouched) == sigBefore,
      "files of unaffected days must not be rewritten")

    // restore ≡ source minus the matching rows
    val want = src.filter(!coalesce(pred, lit(false)))
    val got = Snapshot.restore(spark, dest).drop("bucket_day")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "delete must remove exactly the matching rows")

    // the re-digested manifest stays consistent: gc and a follow-up
    // incremental backup both read it without complaint
    assert(Snapshot.gc(spark, dest, keepDays = 10000).deletedDays.isEmpty)
    val deltaDir = Files.createTempDirectory("graft-mut-del-delta").toString
    val (changed, _) = Snapshot.backupIncremental(want, col("ts_s"), dest, deltaDir)
    assert(changed == 0,
      "post-delete digests must match a re-backup of the filtered data")

    // a no-match predicate is a no-op
    val r2 = Snapshot.delete(spark, dest, col("event_type") === "no_such_type")
    assert(r2 == Snapshot.MutationReport(Nil, Nil, 0L))
    // deleting every remaining row is refused — a snapshot never empties
    intercept[IllegalArgumentException] { Snapshot.delete(spark, dest, lit(true)) }
  }

  test("update rewrites matching rows in place with the schema intact") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-mut-upd").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val pred = col("event_type") === "error"
    val report = Snapshot.update(spark, dest, pred,
      Map("value" -> (col("value") + 1000.0), "user_id" -> lit(-1)))
    assert(report.rowsAffected == src.filter(pred).count() && report.daysDropped.isEmpty)
    val want = src.select(col("event_id"),
      when(pred, lit(-1L)).otherwise(col("user_id")).as("user_id"),
      col("event_type"),
      when(pred, col("value") + 1000.0).otherwise(col("value")).as("value"),
      col("ts_s"))
    val got = Snapshot.restore(spark, dest).drop("bucket_day")
    assert(got.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      want.schema.fields.map(f => (f.name, f.dataType))),
      "update must never drift the schema (assignments cast back)")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "update must change exactly the matching rows")
    // assigning an unknown column fails fast
    intercept[IllegalArgumentException] {
      Snapshot.update(spark, dest, pred, Map("nope" -> lit(1)))
    }
  }

  test("delete on an incremental snapshot copies affected base days locally") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val baseDir = Files.createTempDirectory("graft-mut-base").toString
    Snapshot.backup(src, col("ts_s"), baseDir)
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    val (first, last) = (days.head, days.last)
    // delta changes only the LAST day; the first day stays base-sourced
    val modified = src.withColumn("value",
      when(Retention.bucketDay(col("ts_s")) === last, col("value") + 1)
        .otherwise(col("value")))
    val deltaDir = Files.createTempDirectory("graft-mut-delta").toString
    Snapshot.backupIncremental(modified, col("ts_s"), baseDir, deltaDir)
    assert(!new java.io.File(s"$deltaDir/bucket_day=$first").exists())

    // delete rows living in a base-sourced day, THROUGH the delta
    val baseRows = Snapshot.restore(spark, baseDir).drop("bucket_day").collect().toSet
    val pred = col("event_type") === "click" && Retention.bucketDay(col("ts_s")) === first
    val report = Snapshot.delete(spark, deltaDir, pred)
    assert(report.daysRewritten == Seq(first))
    // copy-on-write: the day materialized locally; the base is untouched
    assert(new java.io.File(s"$deltaDir/bucket_day=$first").exists(),
      "the mutated base-sourced day must materialize in the delta")
    assert(Snapshot.restore(spark, baseDir).drop("bucket_day").collect().toSet == baseRows,
      "the base snapshot must never be touched by a delta mutation")
    // the chain resolves to modified-minus-deleted
    val want = modified.filter(!coalesce(pred, lit(false)))
    val got = Snapshot.resolve(spark, deltaDir).drop("bucket_day")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("deleting every row of a day drops the day from data and manifest") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-mut-drop").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    val victim = days.head
    val report = Snapshot.delete(spark, dest,
      Retention.bucketDay(col("ts_s")) === victim)
    assert(report.daysDropped == Seq(victim) && report.daysRewritten.isEmpty)
    assert(!new java.io.File(s"$dest/bucket_day=$victim").exists())
    val back = Snapshot.restore(spark, dest)
    assert(back.select("bucket_day").distinct().orderBy("bucket_day")
      .collect().map(_.getString(0)).toSeq == days.tail)
    // manifest consistent: gc still reads it, day absent from the report
    val gcReport = Snapshot.gc(spark, dest, keepDays = 10000)
    assert(gcReport.keptDays == days.tail)
  }

  test("deduplicate drops identical rows, rewriting only the dirty days") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    val dirtyDay = days.head
    val dirty = src.unionByName(
      src.filter(Retention.bucketDay(col("ts_s")) === dirtyDay))
    val dest = Files.createTempDirectory("graft-opt-dedup").toString
    Snapshot.backup(dirty, col("ts_s"), dest)
    val dupRows = src.filter(Retention.bucketDay(col("ts_s")) === dirtyDay).count()

    val report = Snapshot.deduplicate(spark, dest)
    assert(report.daysRewritten == Seq(dirtyDay) && report.daysDropped.isEmpty,
      s"only the dirty day rewrites: $report")
    assert(report.rowsAffected == dupRows)
    val got = Snapshot.restore(spark, dest).drop("bucket_day")
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "dedup must restore the clean dataset exactly")
    // idempotent: a clean snapshot is a no-op
    assert(Snapshot.deduplicate(spark, dest) == Snapshot.MutationReport(Nil, Nil, 0L))
    // manifest consistent after the rewrite
    assert(Snapshot.gc(spark, dest, keepDays = 10000).deletedDays.isEmpty)
  }

  test("detach takes a day out of service; attach round-trips it back") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-detach").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val partsBefore = Snapshot.parts(spark, dest).orderBy("bucket_day").collect()
    val day = partsBefore.head.getString(0)
    val dayRows = partsBefore.head.getLong(1)

    Snapshot.detachPartition(spark, dest, day)
    val afterDetach = Snapshot.resolve(spark, dest)
    assert(afterDetach.filter(col("bucket_day") === day).isEmpty,
      "a detached day must vanish from the resolved view")
    assert(afterDetach.count() == src.count() - dayRows)
    assert(Snapshot.parts(spark, dest).count() == partsBefore.length - 1)
    // gc of the snapshot must not touch the detached area
    assert(Snapshot.gc(spark, dest, keepDays = 10000).deletedDays.isEmpty)
    // double-detach and attach-of-attached both fail fast
    intercept[IllegalArgumentException](Snapshot.detachPartition(spark, dest, day))
    intercept[IllegalArgumentException](Snapshot.attachPartition(spark, dest, "19990101"))

    Snapshot.attachPartition(spark, dest, day)
    val got = Snapshot.restore(spark, dest).drop("bucket_day")
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "detach → attach must restore the snapshot exactly")
    assert(Snapshot.parts(spark, dest).orderBy("bucket_day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sameElements(partsBefore.map(r => (r.getString(0), r.getLong(1)))))
  }

  test("detach on an incremental chain materializes base days copy-on-write") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val base = Files.createTempDirectory("graft-detach-base").toString
    val delta = Files.createTempDirectory("graft-detach-delta").toString
    Snapshot.backup(src, col("ts_s"), base)
    // unchanged data: every day is base-sourced in the delta
    Snapshot.backupIncremental(src, col("ts_s"), base, delta)
    val day = Snapshot.parts(spark, delta).agg(min("bucket_day"))
      .head.getString(0)
    val dayRows = src.filter(Retention.bucketDay(col("ts_s")) === day).count()

    Snapshot.detachPartition(spark, delta, day)
    assert(Snapshot.resolve(spark, delta).count() == src.count() - dayRows)
    // the BASE still holds the day — only the delta's view dropped it
    assert(Snapshot.resolve(spark, base).count() == src.count())

    Snapshot.attachPartition(spark, delta, day)
    val got = Snapshot.resolve(spark, delta).drop("bucket_day")
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "chain detach → attach must restore the resolved view exactly")
  }

  test("drop partition discards a day by metadata alone") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-drop-part").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val day = Snapshot.parts(spark, dest).agg(min("bucket_day")).head.getString(0)
    val dayRows = src.filter(Retention.bucketDay(col("ts_s")) === day).count()

    Snapshot.dropPartition(spark, dest, day)
    assert(Snapshot.resolve(spark, dest).count() == src.count() - dayRows)
    assert(Snapshot.parts(spark, dest).filter(col("bucket_day") === day).isEmpty)
    assert(Snapshot.gc(spark, dest, keepDays = 10000).deletedDays.isEmpty)
    // equivalent outcome to the predicate route, minus the scan
    val viaDelete = src.filter(Retention.bucketDay(col("ts_s")) =!= day)
    val got = Snapshot.resolve(spark, dest).drop("bucket_day")
    assert(got.exceptAll(viaDelete).isEmpty && viaDelete.exceptAll(got).isEmpty)
    // dropping twice / dropping the last day both refuse
    intercept[IllegalArgumentException](Snapshot.dropPartition(spark, dest, day))
    val days = Snapshot.parts(spark, dest).orderBy("bucket_day").collect().map(_.getString(0))
    days.init.foreach(d => Snapshot.dropPartition(spark, dest, d))
    intercept[IllegalArgumentException](Snapshot.dropPartition(spark, dest, days.last))
  }

  test("system.mutations log records every command in order") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-mutlog").toString
    Snapshot.backup(src, col("ts_s"), dest)
    assert(Snapshot.mutations(spark, dest).isEmpty)

    val del = Snapshot.delete(spark, dest, col("event_type") === "error")
    val upd = Snapshot.update(spark, dest, col("value") > 100,
      Map("value" -> lit(100.0)))
    val ded = Snapshot.deduplicate(spark, dest) // clean snapshot: a no-op

    val log = Snapshot.mutations(spark, dest).orderBy("mutation_id").collect()
    assert(log.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(log.map(_.getString(2)).toSeq ==
      Seq("DELETE", "UPDATE value", "OPTIMIZE DEDUPLICATE"))
    assert(log.map(_.getLong(6)).toSeq ==
      Seq(del.rowsAffected, upd.rowsAffected, ded.rowsAffected))
    assert(ded.rowsAffected == 0L, "dedup of a clean snapshot must be a no-op")
    assert(log.forall(_.getBoolean(7)))
    // predicates render as SQL-ish text for the audit trail
    assert(log(0).getString(3).toLowerCase.contains("event_type"))
    assert(log(1).getString(3).toLowerCase.contains("value"))
    // the log is metadata: the snapshot still resolves consistently
    assert(Snapshot.resolve(spark, dest).filter(col("event_type") === "error").isEmpty)
  }

  test("replace partition adopts the source's day with copy semantics") {
    val base = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dst = Files.createTempDirectory("graft-repl-dst").toString
    val src = Files.createTempDirectory("graft-repl-src").toString
    Snapshot.backup(base, col("ts_s"), dst)
    // the source's version of every day carries doubled values
    Snapshot.backup(base.withColumn("value", col("value") * 2), col("ts_s"), src)
    val day = Snapshot.parts(spark, dst).agg(min("bucket_day")).head.getString(0)
    val srcBefore = Snapshot.resolve(spark, src).collect().toSet

    Snapshot.replacePartition(spark, src, dst, day)

    // dst's day is now the source's version; every other day untouched
    val want = base.withColumn("bucket_day", Retention.bucketDay(col("ts_s")))
      .withColumn("value",
        when(col("bucket_day") === day, col("value") * 2).otherwise(col("value")))
    val got = Snapshot.resolve(spark, dst)
      .select(want.columns.map(col).toSeq: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // copy semantics: the source is bit-identical to before
    assert(Snapshot.resolve(spark, src).collect().toSet == srcBefore)

    // replacing INTO a gap (day previously dropped) also works
    val day2 = Snapshot.parts(spark, dst).agg(max("bucket_day")).head.getString(0)
    Snapshot.dropPartition(spark, dst, day2)
    Snapshot.replacePartition(spark, src, dst, day2)
    val d2 = Snapshot.resolve(spark, dst).filter(col("bucket_day") === day2)
      .agg(round(sum("value"), 4)).head.getDouble(0)
    val d2want = base.filter(Retention.bucketDay(col("ts_s")) === day2)
      .agg(round(sum(col("value") * 2), 4)).head.getDouble(0)
    assert(d2 == d2want, "gap replace must adopt the source's content")
  }

  test("move re-homes a day across snapshots without rewriting data") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0)).toSeq
    val splitAt = days.length / 2
    val (oldDays, newDays) = (days.take(splitAt).toSet, days.drop(splitAt).toSet)
    val cold = Files.createTempDirectory("graft-move-cold").toString
    val hot = Files.createTempDirectory("graft-move-hot").toString
    Snapshot.backup(src.filter(Retention.bucketDay(col("ts_s")).isin(oldDays.toSeq: _*)),
      col("ts_s"), cold)
    Snapshot.backup(src.filter(Retention.bucketDay(col("ts_s")).isin(newDays.toSeq: _*)),
      col("ts_s"), hot)

    // age the oldest hot day into the cold tier — the MOVE use case
    val day = newDays.min
    Snapshot.movePartition(spark, hot, cold, day)
    assert(Snapshot.parts(spark, hot).filter(col("bucket_day") === day).isEmpty)
    assert(Snapshot.parts(spark, cold).filter(col("bucket_day") === day).count() == 1)
    val both = Snapshot.resolve(spark, hot).unionByName(Snapshot.resolve(spark, cold))
      .drop("bucket_day")
    assert(both.exceptAll(src).isEmpty && src.exceptAll(both).isEmpty,
      "hot ∪ cold must still hold exactly the original rows after the move")
    // moving it again fails fast (no longer at the source), nothing breaks
    intercept[IllegalArgumentException](Snapshot.movePartition(spark, hot, cold, day))
  }

  test("schema evolution is metadata-only: defaults at read, files untouched") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = Files.createTempDirectory("graft-evolve").toString
    Snapshot.backup(src, col("ts_s"), dest)

    Snapshot.addColumn(spark, dest, "source_tag", "'legacy'", "string")
    val evolved = Snapshot.readEvolved(spark, dest)
    assert(evolved.columns.contains("source_tag"))
    assert(evolved.filter(col("source_tag") =!= "legacy").isEmpty,
      "every pre-evolution row must surface the default")
    // metadata-only: the PHYSICAL schema (and so plain resolve) is untouched
    assert(!Snapshot.resolve(spark, dest).columns.contains("source_tag"))
    assert(Snapshot.gc(spark, dest, keepDays = 10000).deletedDays.isEmpty)

    // a second ALTER layers in order; dropped columns vanish at read only
    Snapshot.dropColumn(spark, dest, "user_id")
    val evolved2 = Snapshot.readEvolved(spark, dest)
    assert(!evolved2.columns.contains("user_id"))
    assert(Snapshot.resolve(spark, dest).columns.contains("user_id"),
      "DROP COLUMN must not rewrite data")

    // fail-fast surface: duplicate add, unknown drop, unparseable default
    intercept[IllegalArgumentException](
      Snapshot.addColumn(spark, dest, "source_tag", "'x'", "string"))
    intercept[IllegalArgumentException](Snapshot.dropColumn(spark, dest, "nope"))
    intercept[Exception](
      Snapshot.addColumn(spark, dest, "bad", "not a ( valid expr", "string"))

    // fresh data that carries the column physically unions cleanly
    val fresh = src.limit(100).withColumn("source_tag", lit("fresh")).drop("user_id")
    val both = evolved2.drop("bucket_day").unionByName(fresh)
    assert(both.filter(col("source_tag") === "fresh").count() == 100)
  }

  test("mutations recover crash debris: stray tmps drop, orphaned set-asides restore") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.tornfs.impl", classOf[TornRenameFs].getName)
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ts_s")
    val dest = "tornfs://" + Files.createTempDirectory("graft-mut-debris").toString + "/snap"
    Snapshot.backup(src, col("ts_s"), dest)
    val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0))
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    val txn = new org.apache.hadoop.fs.Path(destPath, Snapshot.TxnDir)
    def onDay(i: Int) = col("event_type") === "error" && Retention.bucketDay(col("ts_s")) === days(i)

    // crash shape 1: uncommitted staging (no commit marker) next to
    // intact days — a stray rewrite of a day
    fs.mkdirs(new org.apache.hadoop.fs.Path(txn, s"data/bucket_day=${days(0)}"))
    // ANY mutation entry point must sweep the debris first, then work
    assert(Snapshot.delete(spark, dest, col("event_type") === "no_such").rowsAffected == 0L)
    assert(!fs.exists(txn), "recovery must drop the uncommitted staging")

    // crash shape 2: a committed DELETE dies inside a day's move — the
    // old day deleted, its replacement not live
    val day1Dir = new org.apache.hadoop.fs.Path(destPath, s"bucket_day=${days(1)}")
    TornRenameFs.inject = Some(TornRenameFs.Inject(day1Dir.getName,
      parentName = Some("snap"), crashAfter = true))
    try intercept[TornRenameFs.TornCrash](Snapshot.delete(spark, dest, onDay(1)))
    finally { TornRenameFs.inject = None; TornRenameFs.disarm() }
    // the promote's copy died after creating the directory: nothing in it
    assert(!fs.exists(day1Dir) || fs.listStatus(day1Dir).isEmpty,
      "the crash must hit between the old day's delete and the promote")

    Snapshot.delete(spark, dest, onDay(2))
    assert(fs.exists(day1Dir) && !fs.exists(txn),
      "recovery must roll the committed move forward and leave no staging")
    val got = Snapshot.resolve(spark, dest).drop("bucket_day")
    val want = src.filter(!onDay(1) && !onDay(2))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "post-recovery mutation must see the fully recovered snapshot")
  }

  test("the manifest survives a simulated crash mid-swap") {
    val src = Relational.eventsSec(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s")
    val dest = Files.createTempDirectory("graft-man-crash").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val man = new java.io.File(s"$dest/_graft_manifest")
    // the lethal window of a plain overwrite: old manifest gone, new
    // one not yet live — with AtomicDir the old is only set ASIDE
    assert(man.renameTo(new java.io.File(s"$dest/_graft_manifest.old")))
    // every manifest-driven surface must recover, not refuse
    assert(Snapshot.gc(spark, dest, keepDays = 10000).deletedDays.isEmpty)
    assert(man.exists(), "recovery must restore the manifest directory")
    val r = Snapshot.delete(spark, dest, col("event_type") === "no_such")
    assert(r.rowsAffected == 0L)
  }

  test("snapshot round-trips losslessly through every supported format") {
    // timestamps through text formats are their own hazard (tz/format
    // round-trip); export the second-truncated form as string for
    // csv/json parity, typed columns otherwise
    val src = Relational.eventsSec(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), date_format(col("ts_s"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
    Snapshot.Formats.foreach { fmt =>
      // zip is a single-FILE artifact (the reference's ${DB}-*.zip);
      // the directory formats export into the tempdir itself
      val root = Files.createTempDirectory(s"graft-export-$fmt").toString
      val dest = if (fmt == "zip") s"$root/snap.zip" else root
      Snapshot.exportAs(src, dest, fmt)
      val back = Snapshot.importFrom(spark, dest, fmt, src.schema)
      assert(back.schema == src.schema, s"$fmt schema drift")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
        s"$fmt round trip lost or altered rows")
    }
    intercept[IllegalArgumentException] {
      Snapshot.exportAs(src, "/tmp/never", "avro")
    }
  }

  test("salted join is result-identical to the plain join") {
    val orders = Tables(spark, sf, "orders")
    val customer = Tables(spark, sf, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(customer, Seq("o_custkey"))
      .select("o_orderkey", "o_custkey", "c_mktsegment")
    val salted = operators.Skew.saltedJoin(
        orders, customer, key = "o_custkey", idCol = "o_orderkey", salts = 8)
      .select("o_orderkey", "o_custkey", "c_mktsegment")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(salted.count() == plain.count())
  }

  test("Graft.session registers SQL functions and the table catalog") {
    // the shared test session lacks the extensions; register on it the
    // way GraftExtensions would and exercise the SQL surface end-to-end
    (expressions.VectorExprs.functions ++ expressions.TextExprs.functions).foreach {
      case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    Graft.registerTables(spark, sf)
    val r = spark.sql(
      """SELECT d.doc_id, size(winnow_fp(d.text, 16, 8)) AS n_fp,
        |       round(vec_dot(e.embedding, e.embedding), 4) AS sq
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE d.doc_id < 5 ORDER BY d.doc_id""".stripMargin)
    assert(r.count() > 0 && r.filter(col("n_fp") <= 0 || col("sq") <= 0).isEmpty)
  }
}
