package graft

import graft.operators.{Relational, Retention, Snapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A mutation rewrites every affected day in one partitioned write.
  * These specs drive one batch that mixes every per-day outcome — a
  * dropped day, a rewritten delta day, a copy-on-write base day — and a
  * crash between that write and the commit.
  */
class MixedBatchMutationSpec extends SparkSpec {

  private lazy val src = Relational.eventsSec(spark, sf)
    .select("event_id", "user_id", "event_type", "value", "ts_s")

  private lazy val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
    .distinct().orderBy("d").collect().map(_.getString(0)).toSeq

  private def day: org.apache.spark.sql.Column = Retention.bucketDay(col("ts_s"))

  /** (day, xor, sum) digests of `df`, computed independently of any
    * manifest.
    */
  private def digests(df: DataFrame): Set[(String, Long, String)] =
    Snapshot.digest(df.withColumn("bucket_day", day)).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDecimal(3).toString)).toSet

  /** Every file under `root` (relative path → bytes). */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => r.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("one DELETE on a chain drops a day, rewrites a delta day and copies a base day") {
    val base = Files.createTempDirectory("graft-mixed-base").toString
    Snapshot.backup(src, col("ts_s"), base)
    val Seq(stored, dropped, copied) = days.take(3)
    // the delta stores `stored` and `dropped`; `copied` stays base-sourced
    val modified = src.withColumn("value",
      when(day.isin(stored, dropped), col("value") + 1).otherwise(col("value")))
    val delta = Files.createTempDirectory("graft-mixed-delta").toString
    assert(Snapshot.backupIncremental(modified, col("ts_s"), base, delta) == ((2, days.length)))
    val baseBefore = tree(base)

    val pred = day === dropped || (col("event_type") === "click" && day.isin(stored, copied))
    val report = Snapshot.delete(spark, delta, pred)
    assert(report.daysDropped == Seq(dropped))
    assert(report.daysRewritten == Seq(stored, copied))
    assert(report.rowsAffected == modified.filter(pred).count())

    // manifest: the dropped day is gone, the copied day flipped base → delta
    val sources = Snapshot.parts(spark, delta).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(!sources.contains(dropped))
    assert(sources(stored) == "delta" && sources(copied) == "delta")
    assert(days.filterNot(Set(stored, dropped, copied)).forall(sources(_) == "base"))
    assert(!new java.io.File(s"$delta/bucket_day=$dropped").exists())
    assert(new java.io.File(s"$delta/bucket_day=$copied").exists())
    assert(!new java.io.File(s"$delta/${Snapshot.TxnDir}").exists(),
      "the staging directory must not outlive the commit")

    // the chain resolves to modified-minus-deleted, and the manifest's
    // digests match both the read-back and the expected rows
    val want = modified.filter(!coalesce(pred, lit(false)))
    val got = Snapshot.resolve(spark, delta).drop("bucket_day")
    assert(sameRows(got, want))
    val manifest = Snapshot.manifestDigests(spark, delta).toSet
    assert(manifest == digests(got) && manifest == digests(want))

    assert(tree(base) == baseBefore, "the base directory must stay byte-identical")
  }

  test("a crash between the staging write and the swap leaves the snapshot unchanged") {
    val dest = Files.createTempDirectory("graft-mixed-crash").toString
    Snapshot.backup(src, col("ts_s"), dest)
    val digestsBefore = Snapshot.manifestDigests(spark, dest)
    // the crashed DELETE got as far as its staging write: the rewrite of
    // two days sits in the staging directory, no commit marker yet
    val staging = s"$dest/${Snapshot.TxnDir}"
    Snapshot.resolve(spark, dest)
      .filter(col("bucket_day").isin(days(0), days(1)) && col("event_type") =!= "click")
      .write.partitionBy("bucket_day").parquet(s"$staging/data")
    assert(sameRows(Snapshot.resolve(spark, dest).drop("bucket_day"), src))

    // the next mutation discards the staging before it scans; one
    // with no matches never stages anything of its own
    val noop = Snapshot.delete(spark, dest, col("event_type") === "no_such")
    assert(noop.rowsAffected == 0L)
    assert(!new java.io.File(staging).exists(), "the next mutation must discard the uncommitted staging")
    assert(Snapshot.manifestDigests(spark, dest) == digestsBefore)
    assert(sameRows(Snapshot.resolve(spark, dest).drop("bucket_day"), src))

    // and a real mutation afterwards sees every row of the crashed days
    val pred = col("event_type") === "click" && day.isin(days(0), days(1))
    val report = Snapshot.delete(spark, dest, pred)
    assert(report.daysRewritten == Seq(days(0), days(1)))
    assert(report.rowsAffected == src.filter(pred).count())
    assert(sameRows(Snapshot.resolve(spark, dest).drop("bucket_day"),
      src.filter(!coalesce(pred, lit(false)))))
  }
}
