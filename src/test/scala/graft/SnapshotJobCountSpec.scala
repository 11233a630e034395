package graft

import graft.operators.{Relational, Retention, SkipIndex, Snapshot, SystemCatalog}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerAccess

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Spark jobs per snapshot statement. A statement's latency on a small
  * snapshot is mostly fixed cost per job, so the job count must not
  * grow with the number of days a mutation touches, snapshot metadata
  * (manifest, mutation log, schema log) is read and written on the
  * driver, and data is read with the schema recorded at BACKUP. A
  * chain's restore opens each manifest once. The sidecars Spark still
  * scans name part files, so Spark never flags their root as a hidden
  * path.
  */
class SnapshotJobCountSpec extends SparkSpec {

  private lazy val src = Relational.eventsSec(spark, sf)
    .select("event_id", "user_id", "event_type", "value", "ts_s")

  private lazy val days = src.select(Retention.bucketDay(col("ts_s")).as("d"))
    .distinct().orderBy("d").collect().map(_.getString(0)).toSeq

  private def freshSnapshot(name: String): String = {
    val dest = Files.createTempDirectory(name).toString
    Snapshot.backup(src, col("ts_s"), dest)
    dest
  }

  /** Jobs started (by the call site of each), and the root paths of
    * every parquet relation read, while `body` runs.
    */
  private def observe[T](body: => T): (T, Seq[String], Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[String]
    val roots = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.lastOption.fold("?")(_.name))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          ListenerAccess.queryExecution(end).foreach(_.analyzed.foreach {
            case r: LogicalRelation => r.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.foreach(p => roots.add(p.toString))
              case _ =>
            }
            case _ =>
          })
        case _ =>
      }
    }
    val sc = spark.sparkContext
    ListenerAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerAccess.drain(sc)
      (out, jobs.asScala.toSeq, roots.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The directory a relation root reads: a part file's parent. */
  private def readDir(root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    (if (p.getName.startsWith("part-")) p.getParent else p).toString
  }

  private val metadata = Seq("_graft_manifest", "_graft_mutations", "_graft_schema")

  test("snapshot metadata is never a Spark relation") {
    val dest = freshSnapshot("graft-jobs-meta")
    val (_, _, roots) = observe {
      Snapshot.delete(spark, dest, col("event_type") === "click")
      Snapshot.delete(spark, dest, col("event_type") === "error") // reads the mutation log
      Snapshot.addColumn(spark, dest, "note", "'n/a'", "string")
      Snapshot.readEvolved(spark, dest).count()
      Snapshot.mutations(spark, dest).count()
    }
    val read = roots.map(readDir).filter(r => metadata.exists(s => r.endsWith(s"/$s")))
    assert(read.isEmpty, s"metadata read through Spark: $read")
    assert(Snapshot.mutations(spark, dest).count() == 2)
  }

  test("sidecar reads name no root that Spark treats as hidden") {
    val dest = freshSnapshot("graft-jobs-sidecar")
    val key = "graft.snapshot.jobs_sidecar_probe"
    spark.conf.set(key, dest)
    val (_, _, roots) =
      try observe {
        SkipIndex.build(spark, dest, bloomCols = Seq("event_type"))
        SkipIndex.scanEq(spark, dest, "event_type", "click").count()
        SystemCatalog.tables(spark).collect() // one Spark read of every manifest
      } finally spark.conf.unset(key)
    assert(Seq("_graft_skip_index", "_graft_manifest")
        .forall(s => roots.exists(readDir(_).endsWith(s"/$s"))),
      s"the skip index and the catalog's manifest union must each be read: $roots")
    val hidden = roots.filter(r => new org.apache.hadoop.fs.Path(r).getName.startsWith("_"))
    assert(hidden.isEmpty, s"roots Spark logs as ignored: $hidden")
  }

  test("DELETE starts as many jobs for one affected day as for every day") {
    assert(days.length > 2, "fixture must span several days")
    val clicks = col("event_type") === "click"
    val Seq(d1, dAll) = Seq("graft-jobs-del1", "graft-jobs-delall").map(freshSnapshot)
    val (one, oneJobs, _) = observe(Snapshot.delete(spark, d1,
      clicks && Retention.bucketDay(col("ts_s")) === days.head))
    val (all, allJobs, _) = observe(Snapshot.delete(spark, dAll, clicks))
    assert(one.daysRewritten == Seq(days.head) && all.daysRewritten == days,
      s"every fixture day holds clicks and other rows: $one / $all")
    // the predicate scan (2 under AQE), the partitioned write and the
    // read-back digest (2): metadata costs none
    assert(oneJobs.length == 5 && allJobs.length == 5,
      s"DELETE of 1 day started $oneJobs, of ${days.length} days $allJobs")
  }

  test("UPDATE starts as many jobs for one affected day as for every day") {
    val errors = col("event_type") === "error"
    val assign = Map("value" -> (col("value") * 2))
    val Seq(d1, dAll) = Seq("graft-jobs-upd1", "graft-jobs-updall").map(freshSnapshot)
    val (one, oneJobs, _) = observe(Snapshot.update(spark, d1,
      errors && Retention.bucketDay(col("ts_s")) === days.last, assign))
    val (all, allJobs, _) = observe(Snapshot.update(spark, dAll, errors, assign))
    assert(one.daysRewritten == Seq(days.last) && all.daysRewritten == days,
      s"every fixture day holds error rows: $one / $all")
    assert(oneJobs.length == 5 && allJobs.length == 5,
      s"UPDATE of 1 day started $oneJobs, of ${days.length} days $allJobs")
  }

  test("gc starts no job") {
    val dest = freshSnapshot("graft-jobs-gc")
    val (report, jobs, _) = observe(Snapshot.gc(spark, dest, keepDays = 2))
    assert(report.deletedDays.nonEmpty, s"gc must expire days: $report")
    assert(jobs.isEmpty, s"gc started jobs: $jobs")
  }

  test("RESTORE of a two-link incremental chain reads each manifest once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingOpenFs].getName)
    val root = "countfs://" + Files.createTempDirectory("graft-jobs-chain").toString
    val Seq(base, mid, top) = Seq("base", "mid", "top").map(n => s"$root/$n")
    Snapshot.backup(src, col("ts_s"), base)
    def bump(day: String) = src.withColumn("value",
      when(Retention.bucketDay(col("ts_s")) === day, col("value") + 1).otherwise(col("value")))
    Snapshot.backupIncremental(bump(days.head), col("ts_s"), base, mid)
    Snapshot.backupIncremental(bump(days.last), col("ts_s"), mid, top)

    CountingOpenFs.opens.clear()
    val (_, jobs, _) = observe(Graft.sql(spark, s"RESTORE TABLE ev_chain_jobs FROM '$top'"))
    val manifestOpens = CountingOpenFs.opens.asScala.toMap.collect {
      case (p, n) if p.contains("/_graft_manifest/part-") =>
        p.substring(0, p.indexOf("/_graft_manifest/")) -> n.intValue
    }
    assert(jobs.isEmpty, s"RESTORE started jobs: $jobs")
    val dirs = Seq(top, mid, base).map(new org.apache.hadoop.fs.Path(_).toUri.getPath)
    assert(manifestOpens.keySet == dirs.toSet && manifestOpens.values.forall(_ == 1),
      s"each of the 3 manifests must be opened exactly once: $manifestOpens")
    assert(spark.table("ev_chain_jobs").count() == src.count())
  }
}
