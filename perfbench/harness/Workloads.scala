package perfbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter.BASIC_ISO_DATE

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A workload: an untimed warm-up that also checks outputs, then timed
  * iterations (passes or ticks) until the window's deadline.
  */
trait Workload {
  def warmup(r: Runner): Unit
  /** Timed iterations until the deadline, and at least `least` of them. */
  def run(r: Runner, deadlineNs: Long, least: Int): Unit
  /** The `least` of a window that is not split for tracing. */
  val minIterations: Int
  /** Values a run reports beside its operations, e.g. storage ratios. */
  val extras: mutable.ArrayBuffer[(String, String, Double)] = mutable.ArrayBuffer()
  /** Wall time of each complete, fully correct iteration, by window. */
  val iterations: mutable.ArrayBuffer[(String, Int, Double)] = mutable.ArrayBuffer()
}

object Workload {
  /** Order of one pass: a seeded shuffle, so every seed times the same
    * queries in a different order.
    */
  def order[T](items: Seq[T], seed: Long, iter: Int): Seq[T] =
    new Random(seed * 1000003L + iter).shuffle(items)
}

/** Expected output of one query: the fingerprint hash, or, for a query
  * whose output does not repeat from run to run, `rows-only`.
  */
final case class Expect(rows: Long, hash: String) {
  def rowsOnly: Boolean = hash == "rows-only"
  def matches(v: Fingerprint.Value): Boolean = v.rows == rows && (rowsOnly || v.hash == hash)
}

/** `interactive`: declared queries from
  * `SparkEntry.queries`, each timed from the builder call to the end of
  * its `noop` write. The warm-up runs every query once, for its
  * fingerprint; that caches the plans and generated code of the timed
  * path except for its `noop` sink. The first timed pass is therefore
  * the slowest, and a window runs at least 4 passes, so that it does not
  * enter the median of any query.
  */
final class QueryWorkload(spark: SparkSession, dir: String, names: Seq[String],
    expected: Map[String, Expect], seed: Long,
    queries: String => (SparkSession, String) => DataFrame) extends Workload {

  val observed = mutable.LinkedHashMap[String, Fingerprint.Value]()
  private val wrong = mutable.HashMap[String, String]()

  private def timed(r: Runner, name: String, iter: Int): OpRecord =
    r.op(name, iter)(queries(name)(spark, dir))(_.write.format("noop").mode("overwrite").save())._1

  def warmup(r: Runner): Unit = names.foreach { name =>
    val (rec, fp) = r.op(name, 0)(queries(name)(spark, dir))(Fingerprint.of)
    fp.foreach { v =>
      observed(name) = v
      expected.get(name) match {
        case Some(e) if e.matches(v) =>
        case Some(e) => rec.fail(s"output check failed: got ${v.rows} rows, hash ${v.hash}; " +
          s"expected ${e.rows} rows, hash ${e.hash}")
        case None => rec.fail("no expected output recorded")
      }
    }
    rec.error.foreach(wrong(name) = _)
  }

  /** A timed run; it fails if the query's warm-up check failed. */
  private def checkedRun(r: Runner, name: String, iter: Int): OpRecord = {
    val rec = timed(r, name, iter)
    wrong.get(name).foreach(m => rec.fail(s"warm-up check failed: $m"))
    rec
  }

  /** With 4 passes each query's median is the mean of its two middle
    * samples, which leaves out the first pass, and a slow stretch of the
    * host still gives every query the same number of samples.
    */
  val minIterations = 4

  /** Whole passes, so that every query has the same number of samples
    * and the median always mixes the same queries.
    */
  def run(r: Runner, deadlineNs: Long, least: Int): Unit = {
    var pass = 0
    do {
      val recs = r.iteration("pass", pass) {
        Workload.order(names, seed, pass).map(name => checkedRun(r, name, pass))
      }
      if (recs.forall(_.ok)) iterations += ((r.currentWindow, pass, recs.map(_.latencyS).sum))
      pass += 1
    } while (pass < least || System.nanoTime() < deadlineNs)
  }
}

/** `lifecycle`: the reference's backup cron tick through the `GraftSql`
  * command router over the first [[LifecycleWorkload.Days]] days of
  * `events`. Each tick writes under fresh paths of the `backups` disk: a
  * full BACKUP, an incremental BACKUP over one seeded changed day, a
  * RESTORE of that chain plus an aggregate, a DELETE (clicks of the first
  * `DeleteDays` days), an UPDATE (every error row) and retention GC.
  * Every statement is checked against values computed from the source.
  */
final class LifecycleWorkload(spark: SparkSession, dir: String, diskRoot: String,
    seed: Long) extends Workload {
  import LifecycleWorkload._

  private def source(table: String, df: DataFrame): Source = {
    df.createOrReplaceTempView(table)
    val agg = df.groupBy(col("event_type"), date_format(col("ts_s"), "yyyyMMdd").as("day"))
      .agg(count(lit(1)), sum(col("value"))).collect()
    val byTypeDay = agg.map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val rows = byTypeDay.values.map(_._1).sum
    // the source parquet's bytes, prorated to the rows the table keeps
    val bytes = new java.io.File(s"$dir/events.parquet").length * rows / all.count()
    Source(table, rows, byTypeDay.keys.map(_._2).toSeq.distinct.sorted, byTypeDay, bytes)
  }

  spark.conf.set("graft.disk.backups", diskRoot)
  private val all = graft.operators.Relational.eventsSec(spark, dir).drop("ts")
  private val events = {
    val first = all.agg(min(date_format(col("ts_s"), "yyyy-MM-dd"))).head.getString(0)
    all.filter(col("ts_s") < expr(s"TIMESTAMP '${LocalDate.parse(first).plusDays(Days)} 00:00:00'"))
  }
  private val full = source("ev", events)

  private def sql(text: String): DataFrame = graft.Graft.sql(spark, text)

  private def dirBytes(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    if (!root.exists) Map.empty
    else {
      val files = mutable.HashMap[String, Long]()
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
        else files(s"${f.getPath}@${f.lastModified}") = f.length
      walk(root)
      files.toMap
    }
  }

  /** Runs one statement; when tracing, records the files it wrote. */
  private def statement[A, B](r: Runner, name: String, iter: Int)(build: => A)(
      act: A => B): (OpRecord, Option[B]) = {
    val before = if (r.tracing) dirBytes(diskRoot) else Map.empty[String, Long]
    val out = r.op(name, iter)(build)(act)
    if (r.tracing) {
      val written = dirBytes(diskRoot).filter { case (k, _) => !before.contains(k) }
      out._1.layers = out._1.layers ++ Map(
        "snapshot.files_written" -> written.size.toDouble,
        "snapshot.bytes_written" -> written.values.sum.toDouble)
    }
    out
  }

  private def check(rec: OpRecord, ok: Boolean, message: => String): Unit =
    if (rec.ok && !ok) rec.fail(s"statement check failed: $message")

  private def tick(r: Runner, path: String, iter: Int): Unit = {
    val src = full
    val t = src.table
    val window = r.currentWindow
    val changedDay = src.days(new Random(seed * 1000003L + iter).nextInt(src.days.size))
    val deleteEnd = LocalDate.parse(src.days.head, BASIC_ISO_DATE).plusDays(DeleteDays)
    val deleteEndDay = deleteEnd.format(BASIC_ISO_DATE)
    val recs = mutable.ArrayBuffer[OpRecord]()
    val fullDir = s"$diskRoot/$path/full"
    val incrDir = s"$diskRoot/$path/incr"

    val (backup, backupRows) = statement(r, "backup", iter)(
      sql(s"BACKUP TABLE $t TO Disk('backups', '$path/full')"))(_.collect())
    backupRows.foreach(rows => check(backup, rows.head.getAs[Long]("n_rows") == src.rows,
      s"backed up ${rows.head.getAs[Long]("n_rows")} rows of ${src.rows}"))
    backup.layers += "snapshot.days_rewritten" -> src.days.size.toDouble
    recs += backup
    if (r.tracing && backup.ok)
      extras += ((window, "snapshot.bytes_stored_per_source_byte",
        dirBytes(fullDir).values.sum.toDouble / src.parquetBytes))

    spark.table(t).withColumn("value",
      when(date_format(col("ts_s"), "yyyyMMdd") === changedDay, col("value") + 1)
        .otherwise(col("value")))
      .createOrReplaceTempView(s"${t}_changed")
    val (incr, incrRows) = statement(r, "incremental_backup", iter)(
      sql(s"BACKUP TABLE ${t}_changed TO Disk('backups', '$path/incr') " +
        s"SETTINGS base_backup = Disk('backups', '$path/full')"))(_.collect())
    incrRows.foreach { rows =>
      val parts = graft.operators.Snapshot.parts(spark, incrDir).collect()
      val delta = parts.count(_.getAs[String]("source") == "delta")
      check(incr, rows.head.getAs[Long]("n_rows") == src.rows && delta == 1 && parts.length == src.days.size,
        s"incremental backup changed $delta of ${parts.length} days, ${rows.head.getAs[Long]("n_rows")} rows")
      incr.layers += "snapshot.days_rewritten" -> delta.toDouble
    }
    recs += incr
    if (r.tracing && backup.ok && incr.ok)
      extras += ((window, "snapshot.incremental_write_ratio",
        incr.layers("snapshot.bytes_written") / backup.layers("snapshot.bytes_written")))

    val (restore, agg) = statement(r, "restore", iter)(
      sql(s"RESTORE TABLE ${t}_restored FROM Disk('backups', '$path/incr')"))(_ =>
      spark.sql(s"SELECT event_type, count(*), sum(value) FROM ${t}_restored GROUP BY event_type").collect())
    agg.foreach { rows =>
      val got = rows.map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
      val want = src.byTypeDay.groupMapReduce(_._1._1) { case ((_, day), (n, s)) =>
        (n, if (day == changedDay) s + n else s)
      } { case ((a, b), (c, d)) => (a + c, b + d) }
      val same = got.keySet == want.keySet && want.forall { case (k, (n, s)) =>
        got(k)._1 == n && math.abs(got(k)._2 - s) <= 1e-9 * math.max(1.0, math.abs(s))
      }
      check(restore, same, s"restored aggregate $got differs from source $want")
    }
    recs += restore

    val isDeleted: ((String, String)) => Boolean = { case (ty, day) => ty == "click" && day < deleteEndDay }
    val (delete, delRows) = statement(r, "delete", iter)(
      sql(s"ALTER TABLE $t DELETE WHERE event_type = 'click' AND ts_s < TIMESTAMP '$deleteEnd 00:00:00'"))(
      _.collect())
    delRows.foreach { rows =>
      val (affected, days) = (rows.head.getAs[Long]("rows_affected"), rows.head.getAs[Long]("days_rewritten"))
      check(delete, affected == src.count(isDeleted), s"DELETE affected $affected rows, expected ${src.count(isDeleted)}")
      delete.layers += "snapshot.days_rewritten" -> days.toDouble
      if (days > 0) extras += ((window, "snapshot.rewrite_useful_ratio", src.daysWith(isDeleted).toDouble / days))
    }
    recs += delete

    val isError: ((String, String)) => Boolean = { case (ty, _) => ty == "error" }
    val (update, updRows) = statement(r, "update", iter)(
      sql(s"ALTER TABLE $t UPDATE value = value * 2 WHERE event_type = 'error'"))(_.collect())
    updRows.foreach { rows =>
      val (affected, days) = (rows.head.getAs[Long]("rows_affected"), rows.head.getAs[Long]("days_rewritten"))
      check(update, affected == src.count(isError), s"UPDATE affected $affected rows, expected ${src.count(isError)}")
      update.layers += "snapshot.days_rewritten" -> days.toDouble
      if (days > 0) extras += ((window, "snapshot.rewrite_useful_ratio", src.daysWith(isError).toDouble / days))
    }
    recs += update

    val (gc, report) = statement(r, "gc", iter)(
      graft.operators.Snapshot.gc(spark, fullDir, KeepDays))(identity)
    report.foreach { rep =>
      val cutoff = LocalDate.parse(src.days.last, BASIC_ISO_DATE).minusDays(KeepDays).format(BASIC_ISO_DATE)
      val (expired, kept) = src.days.partition(_ < cutoff)
      check(gc, rep.deletedDays == expired && rep.keptDays == kept,
        s"GC deleted ${rep.deletedDays.size} and kept ${rep.keptDays.size} days, expected ${expired.size} and ${kept.size}")
    }
    recs += gc

    if (recs.forall(_.ok)) iterations += ((window, iter, recs.map(_.latencyS).sum))
  }

  def warmup(r: Runner): Unit = r.iteration("tick", 0)(tick(r, "warmup", 0))

  private var ticks = 0

  /** Two ticks, so that no statement's median is a single sample. */
  val minIterations = 2

  /** Whole ticks, so that the median always mixes the statements of a
    * tick in the same proportion.
    */
  def run(r: Runner, deadlineNs: Long, least: Int): Unit = {
    val first = ticks
    do {
      ticks += 1
      val k = ticks
      r.iteration("tick", k)(tick(r, s"tick$k", k))
    } while (ticks - first < least || System.nanoTime() < deadlineNs)
  }
}

object LifecycleWorkload {
  /** Per-source facts the checks compare against. */
  final case class Source(table: String, rows: Long, days: Seq[String],
      byTypeDay: Map[(String, String), (Long, Double)], parquetBytes: Long) {
    def count(p: ((String, String)) => Boolean): Long = byTypeDay.collect { case (k, (n, _)) if p(k) => n }.sum
    def daysWith(p: ((String, String)) => Boolean): Int = byTypeDay.keys.filter(p).map(_._2).toSet.size
  }

  /** Days of `events` the table keeps. Most of a tick is a fixed cost
    * per statement and per Spark job, so 6 days rather than all 30 cut a
    * tick from about 16 s to about 10 s on a 4-core VM, and a run's
    * window holds two ticks.
    */
  val Days = 6

  /** The DELETE removes the clicks of this many first days. */
  val DeleteDays = 2

  /** Retention window of the GC step: days older than the newest day
    * minus this many are deleted.
    */
  val KeepDays = 2
}
