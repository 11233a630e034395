package graft.operators

import graft.Config
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's main loop, composed end-to-end (backup.sh:21–130 —
  * EP1): for each configured database, snapshot → validate → latest
  * pointer per configured mode → retention GC. Every step is the
  * already-tested primitive ([[Snapshot.backup]], [[Retention]],
  * [[Snapshot.gc]]); this object is only the composition the
  * container's cron tick runs, parameterized by a `source` resolver so
  * the same loop drives a JDBC pull ([[Sources.jdbc]]), a catalog
  * table, or a parquet fixture.
  *
  * Scale shape: per database, one full read (the backup itself), the
  * metadata-scale digest/validation pass inside `backup`, a
  * partition-listing max for the latest day, and a manifest-only GC.
  * Databases are independent — a cluster deployment can run them as
  * parallel jobs; the loop keeps the reference's serial semantics
  * (backup.sh:24 iterates `$BACKUP_DATABASES` in order).
  */
object BackupLoop {

  /** Per-database outcome of one tick. */
  final case class DbReport(
      db: String,
      rows: Long,
      latestDay: String,
      deletedDays: Seq[String],
      keptDays: Seq[String],
      archive: Option[String] = None)

  private val LatestDir = "_graft_latest"

  /** One full tick over every configured database. `source` resolves a
    * database name to its current rows; `tsCol` is the event-time
    * column the day buckets derive from.
    *
    * Hook semantics follow backup.sh exactly: pre-backup hooks run
    * SYNCHRONOUSLY before anything is written and a failure aborts
    * the whole tick (backup.sh:16–18 `run-parts --exit-on-error`
    * under `set -e` — no snapshot, no GC); post hooks fire after the
    * last database, in reverse order, best-effort (backup.sh:129
    * `--reverse`); any tick failure fires the error hooks and
    * rethrows (backup.sh:8).
    */
  def backupAll(
      spark: SparkSession,
      settings: Config.Settings,
      source: (SparkSession, String) => DataFrame,
      tsCol: String,
      hooks: graft.streaming.Hooks = graft.streaming.Hooks.none): Seq[DbReport] = {
    try hooks.firePre(s"dbs=${settings.dbs.mkString(",")}")
    catch { case t: Throwable => hooks.fireError(t.getMessage); throw t }
    val reports =
      try settings.dbs.map { db =>
        val dest = s"${settings.snapshotDir}/$db"
        // per-database writer lease for the WHOLE tick: go-cron forks
        // the next tick whether or not this one finished (init.sh:14,
        // and backup.sh takes no flock) — an overlapping tick on the
        // same snapshot fails fast (LeaseHeldException → error hooks →
        // rethrow, the reference's set -e semantics) instead of
        // interleaving its writes with this one's backup/GC sequence
        graft.AtomicDir.withLease(dest) {
        val df = source(spark, db)
        val rows = Snapshot.backup(df, col(tsCol), dest)
        val snap = Snapshot.restore(spark, dest)
        // partition-column max: a listing-scale aggregate, no data read
        val latestDay = snap.agg(max(col("bucket_day"))).head.getString(0)
        writeLatest(snap, dest, latestDay, settings.latestType)
        // BACKUP_SUFFIX=".zip" (Dockerfile:23): publish the
        // reference's literal artifact — ONE compressed object named
        // ${db}-<bucket>${suffix} (backup.sh:26–34) holding the
        // latest day, next to the partitioned snapshot. GC of the
        // day partitions never touches published archives (the
        // reference prunes those by mtime on its own find pass).
        // (underscore prefix: Spark's file index skips `_*` paths, so
        // the archive never pollutes restore()'s partition discovery)
        val archive =
          if (settings.suffix == ".zip") {
            val path = s"$dest/_graft_archive/$db-$latestDay${settings.suffix}"
            Snapshot.exportAs(Snapshot.dayView(snap, latestDay), path, "zip")
            Some(path)
          } else None
        val gc = Snapshot.gc(spark, dest, settings.keepDays)
        DbReport(db, rows, latestDay, gc.deletedDays, gc.keptDays, archive)
        }
      }
      catch { case t: Throwable => hooks.fireError(t.getMessage); throw t }
    hooks.firePost(s"dbs=${reports.size}")
    reports
  }

  /** The `BACKUP_LATEST_TYPE` materialization (backup.sh:99–115),
    * snapshot-level: `hardlink` copies the latest day's rows into a
    * `_graft_latest` dataset that survives GC of the original
    * partition; `symlink` records only the day pointer (one row —
    * dereferenced against the snapshot at read time, dangling once GC
    * passes it, exactly like the filesystem symlink); `none` writes
    * nothing.
    */
  private def writeLatest(snap: DataFrame, dest: String, latestDay: String,
      mode: Retention.LatestMode): Unit = mode match {
    case Retention.LatestMode.Off => ()
    case Retention.LatestMode.Hardlink =>
      Snapshot.dayView(snap, latestDay)
        .write.mode("overwrite").parquet(s"$dest/$LatestDir")
    case Retention.LatestMode.Symlink =>
      val spark = snap.sparkSession
      import spark.implicits._
      Seq(latestDay).toDF("bucket_day")
        .coalesce(1).write.mode("overwrite").parquet(s"$dest/$LatestDir")
  }

  private def latest(spark: SparkSession, dest: String): DataFrame =
    Snapshot.readSidecar(spark, dest, LatestDir)
      .getOrElse(throw new IllegalStateException(s"no latest pointer at $dest"))

  /** Read the latest pointer back: the materialized copy under
    * `hardlink`; the dereferenced day view under `symlink` (throws on
    * a dangling pointer — the day was GC'd — like a broken symlink).
    */
  def readLatest(spark: SparkSession, dest: String,
      mode: Retention.LatestMode): Option[DataFrame] = mode match {
    case Retention.LatestMode.Off => None
    case Retention.LatestMode.Hardlink => Some(latest(spark, dest))
    case Retention.LatestMode.Symlink =>
      val day = latest(spark, dest).head.getString(0)
      val view = Snapshot.dayView(Snapshot.restore(spark, dest), day)
      require(view.limit(1).count() > 0,
        s"dangling latest pointer at $dest: day $day was GC'd")
      Some(view)
  }
}
