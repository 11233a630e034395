package graft

import graft.operators.{Relational, Retention, Snapshot}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerAccess

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Spark jobs per snapshot statement. A statement's latency on a small
  * snapshot is mostly fixed cost per job, so the job count must not
  * grow with the number of days a mutation touches, and a chain's
  * restore must read each manifest once.
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

  /** Jobs started, and the root paths of every parquet relation read,
    * while `body` runs.
    */
  private def observe[T](body: => T): (T, Int, Seq[String]) = {
    val jobs = new AtomicInteger
    val roots = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
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
      (out, jobs.get, roots.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("DELETE starts as many jobs for one affected day as for every day") {
    assert(days.length > 2, "fixture must span several days")
    val clicks = col("event_type") === "click"
    val (one, oneJobs, _) = observe(Snapshot.delete(spark, freshSnapshot("graft-jobs-del1"),
      clicks && Retention.bucketDay(col("ts_s")) === days.head))
    val (all, allJobs, _) = observe(Snapshot.delete(spark, freshSnapshot("graft-jobs-delall"),
      clicks))
    assert(one.daysRewritten == Seq(days.head) && all.daysRewritten == days,
      s"every fixture day holds clicks and other rows: $one / $all")
    assert(oneJobs == allJobs,
      s"DELETE of 1 day started $oneJobs jobs, of ${days.length} days $allJobs")
  }

  test("UPDATE starts as many jobs for one affected day as for every day") {
    val errors = col("event_type") === "error"
    val assign = Map("value" -> (col("value") * 2))
    val (one, oneJobs, _) = observe(Snapshot.update(spark, freshSnapshot("graft-jobs-upd1"),
      errors && Retention.bucketDay(col("ts_s")) === days.last, assign))
    val (all, allJobs, _) = observe(Snapshot.update(spark, freshSnapshot("graft-jobs-updall"),
      errors, assign))
    assert(one.daysRewritten == Seq(days.last) && all.daysRewritten == days,
      s"every fixture day holds error rows: $one / $all")
    assert(oneJobs == allJobs,
      s"UPDATE of 1 day started $oneJobs jobs, of ${days.length} days $allJobs")
  }

  test("RESTORE of a two-link incremental chain reads each manifest once") {
    val base = freshSnapshot("graft-jobs-base")
    def bump(day: String) = src.withColumn("value",
      when(Retention.bucketDay(col("ts_s")) === day, col("value") + 1).otherwise(col("value")))
    val mid = Files.createTempDirectory("graft-jobs-mid").toString
    Snapshot.backupIncremental(bump(days.head), col("ts_s"), base, mid)
    val top = Files.createTempDirectory("graft-jobs-top").toString
    Snapshot.backupIncremental(bump(days.last), col("ts_s"), mid, top)

    val (rows, _, roots) = observe(
      Graft.sql(spark, s"RESTORE TABLE ev_chain_jobs FROM '$top'").count())
    assert(rows == src.count())
    val manifestReads = roots.filter(_.endsWith("/_graft_manifest"))
      .groupBy(_.stripSuffix("/_graft_manifest")).map { case (d, rs) => d -> rs.size }
    def reads(dir: String): Int = manifestReads.collectFirst {
      case (d, n) if d.endsWith(new java.io.File(dir).getCanonicalPath) => n
    }.getOrElse(0)
    assert(manifestReads.size == 3 && Seq(top, mid, base).forall(reads(_) == 1),
      s"each of the 3 manifests must be read exactly once: $manifestReads")
  }
}
