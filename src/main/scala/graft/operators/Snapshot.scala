package graft.operators

import graft.AtomicDir
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The backup/restore loop itself (layer [R]): `BACKUP DATABASE … TO
  * Disk` (backup.sh:45) with the post-write validation of
  * backup.sh:47–65, and the restore direction the ClickHouse BACKUP
  * feature implies.
  *
  * Scale shape: the snapshot is ONE physical parquet dataset
  * partitioned by day bucket ([[Retention.writeSnapshot]]); the four
  * retention tiers are zero-copy views (filters on bucket columns —
  * the hardlink fan-out of backup.sh:67–97 without the copies), and
  * reads that filter a bucket prune partitions at the scan.
  */
object Snapshot {

  /** Hidden manifest directory inside a snapshot: one row per day
    * partition with an order-insensitive content digest. Paths starting
    * with `_` are invisible to Spark's file index, so a plain
    * `spark.read.parquet(dest)` of the data never picks it up.
    */
  private[graft] val ManifestDir = "_graft_manifest"

  /** The manifest's fixed schema (its only writer is [[manifestDf]]):
    * reads pass it explicitly, so none starts a schema-inference job.
    */
  private[graft] val ManifestSchema = StructType.fromDDL("bucket_day STRING, " +
    "n_rows BIGINT, content_xor BIGINT, content_sum STRING, source STRING, base_path STRING")

  /** A manifest as read: the base path if the snapshot is incremental,
    * and one (day, n_rows, xor, sum, source) row per day partition.
    */
  private[graft] type Manifest = (Option[String], Seq[(String, Long, Long, String, String)])

  /** Staging directory of a snapshot commit ([[commitTxn]]). Spark's
    * file index skips a `_` name only when it has no `=`
    * (`HadoopFSUtils.shouldFilterOutPathName`), so this name hides all
    * under it, where a root-level `_…bucket_day=…` would be a partition.
    */
  private[graft] val TxnDir = "_graft_txn"

  /** In a MOVE source's `_graft_txn/`: names the destination it commits with. */
  private val LinkFile = "link"

  private def dayDir(dest: String, day: String) = s"$dest/bucket_day=$day"

  private def stagedDay(dest: String, day: String) = s"$dest/$TxnDir/data/bucket_day=$day"

  /** The `_`-named sidecar `name` of `dest` (after crash recovery of
    * the snapshot and of the sidecar's own swap), read with `schema`
    * when it is fixed; None when it has no part file.
    * The read names the part files, not the sidecar's root: Spark flags
    * a root whose last component starts with `_` as hidden and logs
    * "All paths were ignored" on every read of it, though it reads the
    * files; and a glob root logs a missing-metadata warning.
    */
  private[graft] def readSidecar(spark: SparkSession, dest: String, name: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    recoverTxn(dest)
    AtomicDir.recover(s"$dest/$name")
    val glob = new Path(s"$dest/$name/part-*")
    val parts = Option(AtomicDir.fileSystem(dest).globStatus(glob))
      .toSeq.flatten.map(_.getPath.toString).sorted
    if (parts.isEmpty) None
    else Some(schema.fold(spark.read)(s => spark.read.schema(s)).parquet(parts: _*))
  }

  /** Per-day-partition content digest: row count + XOR and
    * overflow-free decimal SUM of the per-row `xxhash64` over all data
    * columns (column order fixed by sorting names, so the digest is
    * schema-order independent). XOR alone cancels duplicate-row pairs;
    * the (count, xor, sum) triple disambiguates. Order-insensitive by
    * construction — parquet row order across writers never matters.
    * One row per day bucket: metadata-scale, whatever the data scale.
    */
  private[graft] def digest(bucketed: DataFrame): DataFrame = {
    val dataCols = bucketed.columns.filterNot(_ == "bucket_day").sorted
      .map(col(_))
    bucketed
      .select(col("bucket_day"), xxhash64(dataCols: _*).as("_rh"))
      .groupBy("bucket_day").agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(_rh)").as("content_xor"),
        sum(col("_rh").cast("decimal(38,0)")).as("content_sum"))
  }

  /** Snapshot write + the reference's fail-fast post-write checks
    * (backup.sh:47–65: file must exist and be non-trivial, else exit
    * 1): write day-partitioned, read back, verify row count matches.
    * The read-back pass also produces the per-partition digest manifest
    * that incremental backups diff against — validation and manifest
    * cost one pass together. Returns the verified row count.
    */
  def backup(df: DataFrame, ts: Column, dest: String): Long = AtomicDir.withLease(dest) {
    // writer lease on the snapshot itself: two overlapping backups of
    // one destination — the go-cron fork-regardless schedule
    // (init.sh:14), whether both arrive via the Scala API, the SQL-text
    // router, or one of each — serialize here; the loser fails fast
    // with LeaseHeldException. BackupLoop's whole-tick lease re-enters.
    val expected = df.count()
    Retention.writeSnapshot(df, ts, dest)
    // an empty write leaves no readable footers — that IS the failure
    // mode the reference's [ -f FILE ] check catches (backup.sh:47–52)
    val dig =
      try digestScan(restore(df.sparkSession, dest))
      catch { case _: org.apache.spark.sql.AnalysisException => Nil }
    val actual = dig.map(_._2).sum
    require(actual == expected,
      s"snapshot validation failed: wrote $expected rows, read back $actual (dest=$dest)")
    require(actual > 0, s"snapshot validation failed: empty snapshot at $dest")
    writeSidecar(dest, ManifestDir,
      manifestDf(df.sparkSession, (None, dig.map { case (d, n, x, s) => (d, n, x, s, "full") })))
    actual
  }

  /** Incremental snapshot — the `base_backup` capability of ClickHouse
    * 24.8's BACKUP (the version the reference pins, Dockerfile:2): a
    * daily-cadence tool (Dockerfile:20 `@daily`) mostly re-backs-up
    * unchanged data, so the delta writes ONLY day-partitions whose
    * content digest differs from the base snapshot's manifest, plus a
    * manifest mapping every current day to its source (base | delta).
    *
    * Scale shape: one full read of the data being backed up (the same
    * read a full backup needs) but a write proportional to the CHANGED
    * days only; the base is never re-read — its manifest (one row per
    * day) carries the comparison. The only `.collect()`s move per-day
    * digest rows: metadata scale, like the KMeans model pulls.
    *
    * Returns (changedDays, totalDays).
    */
  def backupIncremental(df: DataFrame, ts: Column, baseDir: String,
      dest: String): (Int, Int) = {
    val r = backupIncrementalReport(df, ts, baseDir, dest)
    (r.changedDays, r.totalDays)
  }

  /** Outcome of an incremental backup; `rows` is the verified row count
    * of the resolved chain.
    */
  final case class IncrementalReport(changedDays: Int, totalDays: Int, rows: Long)

  /** [[backupIncremental]] with the verified row count, summed on the
    * driver from the per-day digests the resolved chain was checked
    * against — no re-read of the manifest just written.
    */
  private[graft] def backupIncrementalReport(df: DataFrame, ts: Column, baseDir: String,
      dest: String): IncrementalReport = AtomicDir.withLease(dest) {
    val spark = df.sparkSession
    val (_, baseRows) = readManifest(spark, baseDir).getOrElse(
      throw new IllegalArgumentException(
        s"base snapshot at $baseDir has no manifest — re-run Snapshot.backup on it"))
    val baseDig = baseRows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val cur = df.withColumn("bucket_day", Retention.bucketDay(ts))
    val curDig = digestScan(cur).sortBy(_._1)
    require(curDig.nonEmpty, s"snapshot validation failed: empty snapshot at $dest")
    val changed = curDig.collect {
      case (day, n, x, s) if !baseDig.get(day).contains((n, x, s)) => day
    }
    if (changed.nonEmpty)
      // the day list is O(days) literals — a partition-metadata-scale
      // predicate the writer uses to re-scan only the changed days
      cur.filter(col("bucket_day").isin(changed: _*))
        .write.mode("overwrite").partitionBy("bucket_day").parquet(dest)
    writeSidecar(dest, ManifestDir, manifestDf(spark, (Some(baseDir), curDig.map {
      case (day, n, x, s) => (day, n, x, s, if (changed.contains(day)) "delta" else "base")
    })))
    // fail-fast validation, digest-deep like the reference's post-write
    // check: the RESOLVED view (delta ∪ pruned base) must reproduce the
    // current per-day digests exactly
    val resolved = digestScan(resolve(spark, dest)).sortBy(_._1)
    require(resolved.sameElements(curDig),
      s"incremental snapshot validation failed: resolved view diverges from source (dest=$dest)")
    IncrementalReport(changed.length, curDig.length, curDig.map(_._2).sum)
  }

  /** Chain-resolving restore: a full snapshot reads directly; an
    * incremental one unions its delta partitions with the (recursively
    * resolved) base restricted to the days the manifest attributes to
    * the base. Both sides filter on `bucket_day` — the partition column
    * — so every leaf scan prunes to exactly the days it contributes.
    * Days deleted since the base simply aren't in the manifest: restore
    * reproduces the state at backup time, like RESTORE from a BACKUP
    * chain.
    *
    * Each manifest of the chain is read exactly once: a base's manifest
    * serves both the broken-chain check and the recursion into the base.
    */
  def resolve(spark: SparkSession, dest: String): DataFrame =
    resolve(spark, dest, readManifest(spark, dest))

  /** [[resolve]] over a manifest the caller has already read. */
  private[graft] def resolve(spark: SparkSession, dest: String,
      manifest: Option[Manifest]): DataFrame =
    manifest match {
      case None | Some((None, _)) => restore(spark, dest)
      case Some((Some(base), rows)) =>
        val deltaDays = rows.collect { case (d, _, _, _, "delta") => d }
        val baseDays = rows.collect { case (d, _, _, _, "base") => d }
        // fail-fast on a broken chain (manifest-only, no data reads):
        // if the base was GC'd past days this delta still attributes to
        // it, a silent filter would return a "successful" restore
        // missing those days
        val baseManifest = readManifest(spark, base)
        baseManifest.foreach { case (_, baseRows) =>
          val have = baseRows.map(_._1).toSet
          val missing = baseDays.filterNot(have)
          require(missing.isEmpty,
            s"incremental chain broken: base $base no longer holds day(s) " +
              s"${missing.mkString(", ")} that $dest attributes to it " +
              "(base GC'd after the delta was taken?)")
        }
        val fromBase = resolve(spark, base, baseManifest)
          .filter(col("bucket_day").isin(baseDays: _*))
        if (deltaDays.isEmpty) fromBase // nothing changed: no delta footers exist
        else restore(spark, dest)
          .filter(col("bucket_day").isin(deltaDays: _*))
          .unionByName(fromBase)
    }

  /** Per-day outcome of a [[gc]] run. */
  final case class GcReport(deletedDays: Seq[String], keptDays: Seq[String])

  /** Physical retention GC — the `find … -exec rm -rvf` that ends the
    * reference's backup loop (backup.sh:119–122), completing what
    * [[Retention.gcCandidates]] only computes: day partitions strictly
    * older than `max(day) − keepDays` are DELETED from the snapshot
    * directory and the manifest is rewritten without them, so restores,
    * tier views, and incremental chains all exclude the expired days
    * from then on. The cutoff anchors to the newest day in the
    * manifest, not wall-clock, mirroring gcCandidates' deterministic
    * `max(ts) − keep` predicate — and guaranteeing the newest day
    * always survives (GC can never empty a snapshot, the reference's
    * keep-at-least-latest invariant).
    *
    * Scale shape: pure metadata — the decision reads only the manifest
    * (one row per day), the deletes are O(expired days) directory
    * removals, and the rewrite is the one-row-per-day manifest. No data
    * file is ever read.
    *
    * On an incremental snapshot, expired days sourced from the base
    * have no local `bucket_day=` directory — they leave the manifest
    * here (excluding them from resolution) and their bytes are
    * reclaimed when gc runs on the base snapshot itself, exactly like
    * the reference GC'ing each retention tier's own directory.
    * Conversely, GC'ing a snapshot that still serves as a chain's BASE
    * orphans the days its dependents attribute to it — [[resolve]]
    * fails fast on such a chain rather than silently restoring less
    * data (run gc root-first with windows no tighter than the
    * dependents').
    */
  def gc(spark: SparkSession, dest: String, keepDays: Int): GcReport = AtomicDir.withLease(dest) {
    val (base, rows) = requireManifest(spark, dest)
    // one shared expiry rule with the directory GC (Retention.expireDays)
    val (expiredDays, _) = Retention.expireDays(rows.map(_._1), keepDays)
    val expiredSet = expiredDays.toSet
    val (expired, kept) = rows.partition(r => expiredSet(r._1))
    if (expired.nonEmpty) {
      commitTxn(spark, dest,
        expired.collect { case (day, _, _, _, src) if src != "base" => (None, dayDir(dest, day)) },
        Seq(dest -> ((base, kept))))
      // fail-fast consistency: the surviving local partition dirs must
      // be exactly the kept locally-sourced days (metadata-scale listing)
      val remaining = AtomicDir.fileSystem(dest).listStatus(new Path(dest)).map(_.getPath.getName)
        .collect { case p if p.startsWith("bucket_day=") => p.stripPrefix("bucket_day=") }
        .sorted.toSeq
      val wantLocal = kept.collect { case (day, _, _, _, src) if src != "base" => day }
        .sorted
      require(remaining == wantLocal,
        s"gc left inconsistent partitions at $dest: have $remaining, want $wantLocal")
    }
    GcReport(expired.map(_._1).sorted, kept.map(_._1).sorted)
  }

  final case class CompactReport(daysCompacted: Seq[String],
      filesBefore: Long, filesAfter: Long)

  /** ClickHouse `OPTIMIZE TABLE … FINAL` analog for the snapshot's
    * file layout: rewrite every local day partition that has
    * accumulated multiple part files into one file. Content (and
    * therefore the manifest digests) is unchanged — this is purely
    * the small-files defense: a snapshot written by a 1000-task job,
    * or grown by many incremental ticks, otherwise fragments into
    * task-count × days files and every restore/scan pays the
    * per-file open cost. Runs day-at-a-time, so the extra storage
    * peaks at one day: each fragmented day is rewritten as one file
    * under `_graft_txn/`, must digest exactly as the manifest says
    * (when there is one), and goes live in its own commit, so a crash
    * leaves every partition either old or new, never half.
    */
  def compact(spark: SparkSession, dest: String): CompactReport = AtomicDir.withLease(dest) {
    val want = readManifest(spark, dest).map(_._2.map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
    val fs = AtomicDir.fileSystem(dest)
    val files = fs.listStatus(new Path(dest)).map(_.getPath).collect {
      case dir if dir.getName.startsWith("bucket_day=") =>
        dir.getName.stripPrefix("bucket_day=") -> fs.listStatus(dir).map(_.getPath.getName)
          .count(n => n.endsWith(".parquet") || n.startsWith("part-"))
    }.toMap
    val days = files.collect { case (day, n) if n > 1 => day }.toSeq.sorted
    days.foreach { d =>
      val day = spark.read.parquet(dayDir(dest, d))
      day.coalesce(1).write.parquet(stagedDay(dest, d))
      // the rewrite must not change content: staged digest == manifest
      val schema = StructType(day.schema.fields :+ StructField("bucket_day", StringType))
      want.foreach { w =>
        val got = digestDays(spark, s"$dest/$TxnDir/data", Seq(d), schema)
        require(got.get(d) == w.get(d),
          s"compaction read-back of bucket_day=$d diverges from the manifest at $dest")
      }
      commitTxn(spark, dest, Seq((Some(stagedDay(dest, d)), dayDir(dest, d))), Nil)
    }
    val after = files.values.map(n => if (n > 1) 1 else n).sum
    CompactReport(days, files.values.sum.toLong, after.toLong)
  }

  final case class MutationReport(daysRewritten: Seq[String],
      daysDropped: Seq[String], rowsAffected: Long)

  /** `ALTER TABLE … DELETE WHERE predicate` over a snapshot — the
    * ClickHouse 24.8 mutation surface (the engine version the
    * reference pins, Dockerfile:2), and the GDPR/right-to-be-forgotten
    * path a 100 TB corpus needs: rows matching `predicate` are removed
    * from the snapshot IN PLACE, rewriting only the day partitions
    * that actually contain matches.
    *
    * Scale shape: one predicate scan finds the affected days (pruned
    * to the predicate's partition column when it names `bucket_day`),
    * then ONE partitioned write rewrites all of them — cost is
    * O(matched days) in data, never O(snapshot), and a fixed number of
    * Spark jobs whatever the number of days. Unaffected days keep their
    * files and manifest digests untouched. The rewritten and dropped
    * days and the manifest go live in one commit ([[commitTxn]]), so a
    * crash leaves the whole snapshot either old or new.
    *
    * On an incremental snapshot, a mutated day the manifest attributes
    * to the base is materialized LOCALLY (copy-on-write) and its
    * source flips to `delta` — the chain stays resolvable and the base
    * snapshot is never touched. Mutating a snapshot that itself serves
    * as a BASE for other deltas propagates into their restores (the
    * dependents attribute those days to it by reference) — for the
    * GDPR use case that propagation is the point; take a fresh full
    * backup first if the dependents must keep the old rows.
    */
  def delete(spark: SparkSession, dest: String, predicate: Column): MutationReport =
      AtomicDir.withLease(dest) {
    // NULL-predicate rows survive: DELETE removes rows where the
    // predicate is TRUE — `!pred` alone would filter NULLs out too
    mutate(spark, dest, "DELETE", predicate, day => day.filter(!coalesce(predicate, lit(false))))
  }

  /** `ALTER TABLE … UPDATE col = expr WHERE predicate`: rows matching
    * `predicate` get each assignment applied (cast back to the
    * column's original type — a mutation must never drift the schema);
    * everything else, and every untouched day, stays bit-identical.
    * Same day-granular rewrite + manifest re-digest as [[delete]].
    */
  def update(spark: SparkSession, dest: String, predicate: Column,
      assignments: Map[String, Column]): MutationReport = AtomicDir.withLease(dest) {
    val cmd = assignments.keys.toSeq.sorted.mkString("UPDATE ", ", ", "")
    mutate(spark, dest, cmd, predicate, { day =>
      val bad = assignments.keySet -- day.columns.toSet
      require(bad.isEmpty, s"update assigns to unknown column(s): ${bad.mkString(", ")}")
      // the rewrite is written partitioned by day: an assigned
      // bucket_day would move rows across partitions (ClickHouse refuses
      // UPDATE of a partition key column the same way)
      require(!assignments.contains("bucket_day"),
        "update cannot assign the partition column bucket_day")
      val fields = day.schema.fields.map(f => f.name -> f.dataType).toMap
      day.select(day.columns.map { c =>
        assignments.get(c) match {
          case Some(a) => when(predicate, a.cast(fields(c))).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    })
  }

  /** `OPTIMIZE TABLE … FINAL DEDUPLICATE` — drop fully identical rows
    * (ClickHouse's other OPTIMIZE arm; [[compact]] is the file-layout
    * one). Day partitions are independent dedup domains (the snapshot
    * partitions on the event day, so a true duplicate lands in the
    * same partition); only days that actually contain duplicates
    * rewrite — found by ONE per-day (count, distinct-count) pass,
    * metadata-scale collect.
    */
  def deduplicate(spark: SparkSession, dest: String): MutationReport = AtomicDir.withLease(dest) {
    val manifest = requireManifest(spark, dest)
    val log = mutationLog(spark, dest, "OPTIMIZE DEDUPLICATE", "")
    val resolved = resolve(spark, dest, Some(manifest))
    val dataCols = resolved.columns.filterNot(_ == "bucket_day").sorted
    val perDay = resolved.groupBy("bucket_day").agg(
      count(lit(1)).as("n"),
      countDistinct(struct(dataCols.map(col): _*)).as("nd")).collect()
    val dup = perDay.filter(r => r.getLong(1) > r.getLong(2))
    rewriteDayPartitions(spark, dest, manifest, resolved,
      dup.map(_.getString(0)).sorted.toSeq, _.dropDuplicates(),
      dup.map(r => r.getLong(1) - r.getLong(2)).sum, log)
  }

  /** Hidden `system.mutations` sidecar: the ordered audit log of every
    * mutation command run against the snapshot.
    */
  private val MutationsDir = "_graft_mutations"

  /** The mutation log's fixed schema (its only writer is [[mutationLog]]). */
  private val MutationsSchema = StructType.fromDDL("mutation_id BIGINT, " +
    "event_time_ms BIGINT, command STRING, predicate STRING, days_rewritten BIGINT, " +
    "days_dropped BIGINT, rows_affected BIGINT, is_done BOOLEAN")

  /** A stable rendering of the mutation predicate for the audit log —
    * Column.toString's prefix form, e.g. `=(event_type, 'error')`.
    */
  private def predicateSql(predicate: Column): String = predicate.toString

  /** `system.mutations` analog: one row per mutation command ever run
    * — ordinal, wall-clock time, command, predicate, day/row impact,
    * completion flag (always true: mutations here are synchronous,
    * where ClickHouse's are queued). Pure metadata, committed with the
    * mutation it logs; model-scale by construction.
    */
  def mutations(spark: SparkSession, dest: String): DataFrame =
    readSidecar(spark, dest, MutationsDir, Some(MutationsSchema)).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), MutationsSchema))

  /** The log with one more row for a mutation's report. The prior rows
    * are read now, before the mutation stages anything (the lease
    * holder's sidecar read discards uncommitted staging); the new log
    * commits with the mutation ([[commitTxn]]).
    */
  private def mutationLog(spark: SparkSession, dest: String, command: String,
      predicate: String): MutationReport => DataFrame = {
    import spark.implicits._
    val prior = mutations(spark, dest).collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getString(2), x.getString(3),
        x.getLong(4), x.getLong(5), x.getLong(6), x.getBoolean(7))).toSeq
    val nextId = prior.map(_._1).maxOption.getOrElse(0L) + 1
    r => (prior :+ (nextId, System.currentTimeMillis(), command, predicate,
      r.daysRewritten.length.toLong, r.daysDropped.length.toLong,
      r.rowsAffected, true)).toDF("mutation_id", "event_time_ms",
      "command", "predicate", "days_rewritten", "days_dropped", "rows_affected", "is_done")
  }

  private[graft] def requireManifest(spark: SparkSession, dest: String): Manifest =
    readManifest(spark, dest).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot at $dest has no manifest — re-run Snapshot.backup on it"))

  /** Per-day content digests (day, xor, sum) — the staleness fence
    * [[SkipIndex]] records at build time and re-checks at scan time,
    * and the byte-identity witness [[graft.GraftSqlSpec]] compares
    * between the SQL-text BACKUP route and the direct API.
    */
  private[graft] def manifestDigests(
      spark: SparkSession, dest: String): Seq[(String, Long, String)] =
    requireManifest(spark, dest)._2.map(r => (r._1, r._3, r._4))

  private def mutate(spark: SparkSession, dest: String, command: String, predicate: Column,
      rewriteDay: DataFrame => DataFrame): MutationReport = {
    val manifest = requireManifest(spark, dest)
    val log = mutationLog(spark, dest, command, predicateSql(predicate))
    val resolved = resolve(spark, dest, Some(manifest))
    // one pass over the resolved view: which days contain matches, and
    // how many rows (metadata-scale collect — one row per affected day)
    val hits = digestScan(resolved.filter(predicate))
    rewriteDayPartitions(spark, dest, manifest, resolved,
      hits.map(_._1).sorted, rewriteDay, hits.map(_._2).sum, log)
  }

  /** Shared day-granular rewrite core of [[delete]]/[[update]]/
    * [[deduplicate]]: ONE write of `rewriteDay` over every affected
    * day, partitioned by `bucket_day`, stages the new days with NOTHING
    * live touched — a day with no staged directory is a dropped day.
    * The refuse-to-empty guard runs, the staged days are digested (a
    * write-then-verify read-back, like backup()'s), and only then does
    * one [[commitTxn]] swap the rewritten days in, drop the emptied
    * ones and rewrite the manifest and the mutation `log`. The Spark job
    * count is fixed, not one write (plus one emptiness probe) per day.
    * `resolved` is the caller's resolve over `manifest` (one resolve per
    * mutation). With no day affected, only the log commits.
    */
  private def rewriteDayPartitions(spark: SparkSession, dest: String,
      manifest: Manifest, resolved: DataFrame,
      affected: Seq[String], rewriteDay: DataFrame => DataFrame,
      rowsAffected: Long, log: MutationReport => DataFrame): MutationReport = {
    if (affected.isEmpty) {
      commitTxn(spark, dest, Nil, Nil, Some(log(MutationReport(Nil, Nil, 0L))))
      return MutationReport(Nil, Nil, 0L)
    }
    val (base, manifestRows) = manifest
    val data = s"$dest/$TxnDir/data"
    val out = rewriteDay(resolved.filter(col("bucket_day").isin(affected: _*)))
    out.write.mode("overwrite").partitionBy("bucket_day").parquet(data)
    val fs = AtomicDir.fileSystem(data)
    val staged = fs.listStatus(new Path(data)).map(_.getPath.getName)
      .collect { case n if n.startsWith("bucket_day=") => n.stripPrefix("bucket_day=") }.toSet
    val (rewrittenDays, droppedDays) = affected.partition(staged)
    if ((manifestRows.map(_._1).toSet -- droppedDays).isEmpty) {
      // refuse BEFORE anything is destroyed — the guard must protect
      // the data, not lament it
      fs.delete(new Path(s"$dest/$TxnDir"), true)
      throw new IllegalArgumentException(
        s"mutation would delete every row of $dest — refusing to leave an empty snapshot")
    }
    val newDigests = digestDays(spark, data, rewrittenDays, out.schema)
    require(newDigests.keySet == rewrittenDays.toSet, "mutation read-back lost day(s): " +
      (rewrittenDays.toSet -- newDigests.keySet).mkString(", "))
    val newRows = manifestRows.flatMap { case (day, n, x, s, source) =>
      if (droppedDays.contains(day)) None
      else newDigests.get(day) match {
        case Some((n2, x2, s2)) =>
          // a day rewritten locally is now delta-sourced on a chain
          Some((day, n2, x2, s2, if (source == "base") "delta" else source))
        case None => Some((day, n, x, s, source))
      }
    }
    val report = MutationReport(rewrittenDays, droppedDays, rowsAffected)
    commitTxn(spark, dest,
      rewrittenDays.map(d => (Some(stagedDay(dest, d)), dayDir(dest, d))) ++
        droppedDays.map(d => (None, dayDir(dest, d))),
      Seq(dest -> ((base, newRows))), Some(log(report)))
    report
  }

  /** `system.parts` analog: the snapshot's part inventory as a
    * DataFrame — one row per day partition with its manifest row count
    * and source (`full` | `base` | `delta`). Pure metadata: reads only
    * the manifest, never a data footer — at 100 TB this is the
    * operator's monitoring surface (which days exist, how big, which
    * live locally vs on the chain's base) at one-row-per-day cost.
    */
  def parts(spark: SparkSession, dest: String): DataFrame = {
    import spark.implicits._
    val (_, rows) = requireManifest(spark, dest)
    rows.map(r => (r._1, r._2, r._5))
      .toDF("bucket_day", "n_rows", "source")
  }

  /** `system.detached_parts` analog: the days currently sitting in the
    * snapshot's `_detached/` area — the inventory a ClickHouse operator
    * polls before deciding what to ATTACH back or delete. One row per
    * detached day with its row count and byte size. The listing is
    * metadata-scale; the row count reads each detached day's footers —
    * O(detached days) day-sized reads, bounded by operator actions
    * (DETACH is a manual verb), never by the corpus.
    */
  def detachedParts(spark: SparkSession, dest: String): DataFrame = {
    import spark.implicits._
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    val detachedRoot = new org.apache.hadoop.fs.Path(destPath, "_detached")
    val rows =
      if (!fs.exists(detachedRoot)) Seq.empty[(String, Long, Long)]
      else fs.listStatus(detachedRoot)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket_day="))
        .map(_.getPath).sortBy(_.getName)
        .map { p =>
          val day = p.getName.stripPrefix("bucket_day=")
          val bytes = fs.getContentSummary(p).getLength
          (day, spark.read.parquet(p.toString).count(), bytes)
        }.toSeq
    rows.toDF("bucket_day", "n_rows", "bytes")
  }

  /** `day`'s manifest row; refuses an unknown day and the only day. */
  private def removableDay(m: Manifest, dest: String, day: String, verb: String) = {
    val row = m._2.find(_._1 == day).getOrElse(throw new IllegalArgumentException(
      s"no partition bucket_day=$day in snapshot $dest (have: ${m._2.map(_._1).mkString(", ")})"))
    require(m._2.length > 1,
      s"refusing to $verb the only partition of $dest — that would empty the snapshot")
    row
  }

  /** Fails, before anything is written, unless the data columns agree. */
  private def requireSameSchema(src: DataFrame, dst: DataFrame, what: String): Unit = {
    val Seq(a, b) = Seq(src, dst).map(_.drop("bucket_day").schema)
    def cols(t: StructType) = t.fields.map(f => (f.name, f.dataType)).toSeq
    require(cols(a) == cols(b), s"schema mismatch $what: source $a vs destination $b")
  }

  /** `ALTER TABLE … DETACH PARTITION` — take one day out of service:
    * its directory moves to `_detached/bucket_day=<day>` (data
    * preserved, exactly ClickHouse's `detached/` area) and the manifest
    * drops the row in the same commit, so restores, tier views, gc,
    * and incremental chains all exclude the day immediately. A
    * base-sourced day on a chain has no local directory — it
    * materializes copy-on-write into the detached area, so the
    * attach-back contract is uniform and the base snapshot is never
    * touched.
    *
    * Scale shape: one rename (or one day-sized copy for base-sourced
    * days) + the one-row-per-day manifest rewrite. No other data moves.
    */
  def detachPartition(spark: SparkSession, dest: String, day: String): Unit =
      AtomicDir.withLease(dest) {
    val manifest @ (base, rows) = requireManifest(spark, dest)
    val row = removableDay(manifest, dest, day, "detach")
    val fs = AtomicDir.fileSystem(dest)
    // nested under a plain `_`-prefixed dir: a name containing `=` at
    // the snapshot root would be parsed as a conflicting partition
    // column by Spark's discovery; `_detached/` is invisible like the
    // manifest (exactly ClickHouse's `detached/` area)
    val detached = s"$dest/_detached/bucket_day=$day"
    require(!fs.exists(new Path(detached)),
      s"a detached copy of bucket_day=$day already exists at $dest — attach or delete it first")
    fs.mkdirs(new Path(s"$dest/_detached"))
    val from =
      if (row._5 != "base") dayDir(dest, day)
      else {
        // copy-on-write: the day's bytes live in the base; materialize
        // them locally so attach-back never depends on the base's gc
        resolve(spark, dest, Some(manifest)).filter(col("bucket_day") === day).drop("bucket_day")
          .write.parquet(stagedDay(dest, day))
        stagedDay(dest, day)
      }
    commitTxn(spark, dest, Seq((Some(from), detached)),
      Seq(dest -> ((base, rows.filterNot(_._1 == day)))))
  }

  /** `ALTER TABLE … ATTACH PARTITION` — bring a detached day back: the
    * detached directory is digested where it lies (the checksum
    * verification ClickHouse does on ATTACH), then it moves into place
    * and the manifest gains the row back, locally-sourced (`delta` on
    * a chain — the local dir now carries the day, whatever its
    * original source), in one commit.
    */
  def attachPartition(spark: SparkSession, dest: String, day: String): Unit =
      AtomicDir.withLease(dest) {
    val (base, rows) = requireManifest(spark, dest)
    require(!rows.exists(_._1 == day),
      s"partition bucket_day=$day is already attached at $dest")
    val detached = s"$dest/_detached/bucket_day=$day"
    require(AtomicDir.fileSystem(dest).exists(new Path(detached)),
      s"no detached partition bucket_day=$day at $dest")
    // the day's own footers give its schema; the digest reads it back
    val schema = StructType(spark.read.parquet(detached).schema.fields :+
      StructField("bucket_day", StringType))
    val dig = digestDays(spark, s"$dest/_detached", Seq(day), schema)
    require(dig.get(day).exists(_._1 > 0),
      s"attach read-back failed for bucket_day=$day at $dest")
    val (n, x, s) = dig(day)
    commitTxn(spark, dest, Seq((Some(detached), dayDir(dest, day))),
      Seq(dest -> ((base, (rows :+ ((day, n, x, s, if (base.isDefined) "delta" else "full")))
        .sortBy(_._1)))))
  }

  /** `ALTER TABLE … DROP PARTITION` — discard one day outright: the
    * local directory deletes (if any — a base-sourced day on a chain
    * has none and the base is never touched) and the manifest drops
    * the row in the same commit, so restores, tier views, and chains
    * exclude the day immediately. Pure metadata + one directory delete
    * — the partition-aligned fast path of [[delete]] (which would
    * reach the same outcome through a predicate scan). Refuses to drop
    * the only partition, like every other would-empty guard.
    */
  def dropPartition(spark: SparkSession, dest: String, day: String): Unit =
      AtomicDir.withLease(dest) {
    val manifest @ (base, rows) = requireManifest(spark, dest)
    val row = removableDay(manifest, dest, day, "drop")
    commitTxn(spark, dest, if (row._5 != "base") Seq((None, dayDir(dest, day))) else Nil,
      Seq(dest -> ((base, rows.filterNot(_._1 == day)))))
  }

  /** `ALTER TABLE … MOVE PARTITION TO TABLE` — re-home one day from
    * one snapshot to another: the source's day directory renames
    * across (one filesystem move — no data rewrite, like ClickHouse
    * moving parts between tables on one disk; a base-sourced day
    * materializes copy-on-write), digested where it lies first (the
    * adoption checksum), and both manifests change in the same commit.
    * Schemas must agree; checked against the source day BEFORE
    * anything moves, so a mismatch aborts with both snapshots
    * untouched.
    */
  def movePartition(spark: SparkSession, srcDest: String, dstDest: String,
      day: String): Unit = AtomicDir.withLease(srcDest)(AtomicDir.withLease(dstDest) {
    val srcManifest @ (srcBase, srcRows) = requireManifest(spark, srcDest)
    val row = removableDay(srcManifest, srcDest, day, "move")
    // fail fast with nothing moved: destination must be a manifested
    // snapshot without the day, and the schemas must line up
    val dstManifest @ (dstBase, dstRows) = requireManifest(spark, dstDest)
    require(!dstRows.exists(_._1 == day),
      s"destination $dstDest already holds bucket_day=$day")
    val srcSnap = resolve(spark, srcDest, Some(srcManifest))
    val dstSnap = resolve(spark, dstDest, Some(dstManifest))
    requireSameSchema(srcSnap, dstSnap, s"moving bucket_day=$day")
    val from =
      if (row._5 != "base") srcDest
      else {
        srcSnap.filter(col("bucket_day") === day).drop("bucket_day")
          .write.parquet(stagedDay(dstDest, day))
        s"$dstDest/$TxnDir/data"
      }
    val dig = digestDays(spark, from, Seq(day), srcSnap.schema)
    require(dig.get(day).contains((row._2, row._3, row._4)),
      s"move read-back of bucket_day=$day diverges from the manifest of $srcDest")
    commitTxn(spark, dstDest, Seq((Some(dayDir(from, day)), dayDir(dstDest, day))), Seq(
      srcDest -> ((srcBase, srcRows.filterNot(_._1 == day))),
      dstDest -> ((dstBase, (dstRows :+ ((day, row._2, row._3, row._4,
        if (dstBase.isDefined) "delta" else "full"))).sortBy(_._1)))))
  })

  /** `ALTER TABLE … REPLACE PARTITION … FROM src` — adopt the source
    * snapshot's version of one day, COPY semantics (the source is
    * never touched, unlike [[movePartition]]): the source day resolves
    * (chains materialize copy-on-write) into the destination's staging,
    * is digested there (the adoption checksum), and replaces the
    * destination's day — if any — in one commit with the manifest.
    * Schema compatibility is checked BEFORE any write.
    */
  def replacePartition(spark: SparkSession, srcDest: String, dstDest: String,
      day: String): Unit = AtomicDir.withLease(dstDest) {
    val srcManifest @ (_, srcRows) = requireManifest(spark, srcDest)
    require(srcRows.exists(_._1 == day),
      s"source $srcDest has no partition bucket_day=$day")
    val dstManifest @ (base, dstRows) = requireManifest(spark, dstDest)
    val srcSnap = resolve(spark, srcDest, Some(srcManifest))
    val dstSnap = resolve(spark, dstDest, Some(dstManifest))
    requireSameSchema(srcSnap, dstSnap, s"replacing bucket_day=$day")
    srcSnap.filter(col("bucket_day") === day).drop("bucket_day")
      .write.mode("overwrite").parquet(stagedDay(dstDest, day))
    val dig = digestDays(spark, s"$dstDest/$TxnDir/data", Seq(day), srcSnap.schema)
    require(dig.get(day).exists(_._1 > 0),
      s"replace read-back failed for bucket_day=$day at $dstDest")
    val (n, x, s) = dig(day)
    commitTxn(spark, dstDest, Seq((Some(stagedDay(dstDest, day)), dayDir(dstDest, day))),
      Seq(dstDest -> ((base, (dstRows.filterNot(_._1 == day) :+
        ((day, n, x, s, if (base.isDefined) "delta" else "full"))).sortBy(_._1)))))
  }

  /** Hidden schema-evolution sidecar: the ordered `ALTER TABLE ADD/
    * DROP COLUMN` log. Like the manifest, `_`-prefixed so data reads
    * never see it.
    */
  private val SchemaDir = "_graft_schema"

  /** The schema log's fixed schema (its only writer is [[writeSchemaLog]]). */
  private val SchemaLogSchema = StructType.fromDDL(
    "ord BIGINT, action STRING, name STRING, default_sql STRING, data_type STRING")

  /** `ALTER TABLE … ADD COLUMN name type DEFAULT expr` — metadata-only,
    * exactly ClickHouse's semantics: NO data file is touched; existing
    * rows surface the default at read time ([[readEvolved]]), and the
    * column becomes physical only as new data carrying it is written.
    * At 100 TB this is the only viable ALTER: a schema change must
    * never imply a corpus rewrite.
    */
  def addColumn(spark: SparkSession, dest: String, name: String,
      defaultSql: String, dataType: String): Unit = {
    requireManifest(spark, dest) // only evolve real snapshots
    require(!resolve(spark, dest).columns.contains(name) &&
        !readSchemaLog(spark, dest).exists(r => r._2 == "add" && r._3 == name),
      s"column $name already exists at $dest")
    // validate the default parses and casts NOW, not at first read
    spark.range(1).select(expr(defaultSql).cast(dataType))
    writeSchemaLog(spark, dest,
      readSchemaLog(spark, dest) :+ ((nextOrd(spark, dest), "add", name, defaultSql, dataType)))
  }

  /** `ALTER TABLE … DROP COLUMN` — metadata-only: the column vanishes
    * from evolved reads immediately; bytes are reclaimed only as days
    * rewrite for other reasons (mutation, compaction), like ClickHouse
    * parts dropping the column on their next merge.
    */
  def dropColumn(spark: SparkSession, dest: String, name: String): Unit = {
    requireManifest(spark, dest)
    require(readEvolved(spark, dest).columns.contains(name),
      s"no column $name at $dest")
    require(name != "bucket_day", "cannot drop the partition column")
    writeSchemaLog(spark, dest,
      readSchemaLog(spark, dest) :+ ((nextOrd(spark, dest), "drop", name, null, null)))
  }

  /** [[resolve]] with the schema-evolution log replayed in order:
    * added columns materialize their default where the footers lack
    * them (or are null — the pre-evolution rows), dropped columns
    * disappear. Pure projection on top of the resolved scan — zero
    * extra shuffle, codegen'd like any withColumn.
    */
  def readEvolved(spark: SparkSession, dest: String): DataFrame = {
    var df = resolve(spark, dest)
    readSchemaLog(spark, dest).sortBy(_._1).foreach {
      case (_, "add", name, defaultSql, dtype) =>
        df =
          if (df.columns.contains(name))
            df.withColumn(name, coalesce(col(name), expr(defaultSql).cast(dtype)))
          else df.withColumn(name, expr(defaultSql).cast(dtype))
      case (_, "drop", name, _, _) =>
        df = df.drop(name)
      case (_, other, _, _, _) =>
        throw new IllegalStateException(s"unknown schema-log action '$other' at $dest")
    }
    df
  }

  private def nextOrd(spark: SparkSession, dest: String): Long =
    readSchemaLog(spark, dest).map(_._1).maxOption.getOrElse(0L) + 1L

  private def readSchemaLog(spark: SparkSession, dest: String)
      : Seq[(Long, String, String, String, String)] =
    readSidecar(spark, dest, SchemaDir, Some(SchemaLogSchema)).toSeq.flatMap(_.collect())
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4)))
      .sortBy(_._1)

  private def writeSchemaLog(spark: SparkSession, dest: String,
      rows: Seq[(Long, String, String, String, String)]): Unit = {
    import spark.implicits._
    writeSidecar(dest, SchemaDir, rows.toDF("ord", "action", "name", "default_sql", "data_type"))
  }

  /** digest() collected as (day, n, xor, sum-string) tuples. */
  private def digestScan(df: DataFrame): Seq[(String, Long, Long, String)] =
    digest(df).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDecimal(3).toString)
    }.toSeq

  /** Digests of the day directories `<parent>/bucket_day=<d>`, read
    * with `schema` (data columns + `bucket_day`): no inference job.
    */
  private def digestDays(spark: SparkSession, parent: String, days: Seq[String],
      schema: StructType): Map[String, (Long, Long, String)] =
    if (days.isEmpty) Map.empty
    else digestScan(spark.read.option("basePath", parent).schema(schema)
      .parquet(days.map(dayDir(parent, _)): _*))
      .map { case (d, n, x, s) => d -> ((n, x, s)) }.toMap

  private def manifestDf(spark: SparkSession, m: Manifest): DataFrame = {
    import spark.implicits._
    m._2.map { case (d, n, x, s, src) => (d, n, x, s, src, m._1.orNull) }
      .toDF("bucket_day", "n_rows", "content_xor", "content_sum", "source", "base_path")
      .coalesce(1)
  }

  /** Replace sidecar `name` of `dest` with `df` through an AtomicDir
    * swap: a plain overwrite deletes the old sidecar before the new one
    * exists — for a BACKUP's manifest, a crash in that window would
    * orphan the snapshot's gc/incremental/mutation surface (restore
    * still works; everything manifest-driven refuses).
    */
  private def writeSidecar(dest: String, name: String, df: DataFrame): Unit = {
    val dir = s"$dest/$name"
    AtomicDir.recover(dir)
    df.coalesce(1).write.mode("overwrite").parquet(AtomicDir.tmpPath(dir))
    AtomicDir.swap(dir)
  }

  /** THE snapshot commit of every day-level verb. The caller has
    * staged each new day under `_graft_txn/` and checked its digests;
    * this stages each snapshot's new manifest, and `dest`'s new mutation
    * log if any, beside them and commits `days` — (staged, live) pairs,
    * `None` retiring a live day — the manifests and the log as ONE
    * [[AtomicDir.commit]], so a crash leaves every snapshot wholly
    * before or after the verb ([[recoverTxn]]). Another
    * snapshot (MOVE's source) gets a link to this commit, so its reads
    * recover it too; the commit itself retires the link. Runs under
    * every snapshot's lease, after the verb's last sidecar read (the
    * holder's recovery discards uncommitted staging).
    */
  private def commitTxn(spark: SparkSession, dest: String,
      days: Seq[(Option[String], String)], manifests: Seq[(String, Manifest)],
      log: Option[DataFrame] = None): Unit = {
    val txn = s"$dest/$TxnDir"
    val fs = AtomicDir.fileSystem(txn)
    val staged = manifests.zipWithIndex.map { case ((snap, m), i) =>
      manifestDf(spark, m).write.parquet(s"$txn/manifest$i")
      (Some(s"$txn/manifest$i"), s"$snap/$ManifestDir")
    } ++ log.map { df =>
      df.coalesce(1).write.parquet(s"$txn/mutations")
      (Some(s"$txn/mutations"), s"$dest/$MutationsDir")
    }
    val others = manifests.map(_._1).filter(_ != dest)
    others.foreach { snap =>
      val out = fs.create(new Path(s"$snap/$TxnDir/$LinkFile"), true)
      try out.write(dest.getBytes("UTF-8")) finally out.close()
    }
    val links = others.map(snap => (None, s"$snap/$TxnDir"))
    AtomicDir.commit(s"$txn/commit", (days ++ staged ++ links).map {
      case (from, live) => AtomicDir.Move(from, live)
    }, dest +: others)
    fs.delete(new Path(txn), true)
  }

  /** The one recover path of [[commitTxn]], run by every sidecar read
    * (so by [[readManifest]], every verb and every [[resolve]]): a
    * committed transaction rolls forward; an uncommitted one is
    * discarded by the snapshot's next writer. A MOVE source first
    * recovers the commit it links to, if that commit moves any of its
    * paths; a link left by a crash before that commit's marker names
    * nothing to recover, and the source's next writer discards it.
    */
  private def recoverTxn(dest: String): Unit = {
    val fs = AtomicDir.fileSystem(dest)
    val txn = new Path(s"$dest/$TxnDir")
    if (!fs.exists(txn)) return
    val owner = try {
      val in = fs.open(new Path(txn, LinkFile))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: java.io.FileNotFoundException => "" }
    if (owner.nonEmpty) AtomicDir.recoverStaged(owner, s"$owner/$TxnDir", touching = Some(dest))
    AtomicDir.recoverStaged(dest, txn.toString)
  }

  /** The [[Manifest]] of `dir` (after [[recoverTxn]]); None when the
    * directory has no manifest (a bare parquet dataset). One Spark
    * job: the schema is known.
    */
  private def readManifest(spark: SparkSession, dir: String): Option[Manifest] =
    readSidecar(spark, dir, ManifestDir, Some(ManifestSchema)).map { df =>
      val rows = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getString(4), Option(r.getString(5))))
      val bases = rows.flatMap(_._6).distinct
      require(bases.length <= 1, s"manifest at $dir names multiple bases: ${bases.mkString(",")}")
      (bases.headOption, rows.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq)
    }

  /** RESTORE analog: read the snapshot back (schema from parquet
    * footers — the engine is schema-dynamic like the reference, which
    * backs up whatever schema the DB has). Partition-column type
    * inference is disabled DURING the read (and restored after — the
    * read resolves its schema eagerly) so `bucket_day` comes back as
    * the string it was written as without perturbing the caller's
    * session for unrelated reads.
    */
  def restore(spark: SparkSession, dest: String): DataFrame = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(dest)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Format-parametric export — the `BACKUP_SUFFIX` axis of the
    * reference (Dockerfile:23: the archive format is a config choice,
    * not a semantic one). Parquet is the engine's native snapshot
    * format (columnar, typed, partition-prunable); ORC matches it
    * feature-for-feature; JSON/CSV are interchange sinks whose
    * read-back needs the schema re-applied (text formats erase types —
    * import requires the original schema for a lossless round trip,
    * which [[importFrom]] enforces by taking it explicitly).
    */
  val Formats: Set[String] = Set("parquet", "orc", "json", "csv", "zip")

  def exportAs(df: DataFrame, dest: String, format: String): Unit = {
    require(Formats(format), s"unsupported snapshot format '$format' (one of $Formats)")
    if (format == "zip") { exportZip(df, dest); return }
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(dest)
  }

  /** Single-file compressed archive — the reference's literal artifact
    * shape (`BACKUP_SUFFIX=".zip"`, Dockerfile:23; one object per
    * (db, bucket), backup.sh:26–34). The rows are staged as the
    * engine's native parquet next to `dest`, then streamed into ONE
    * zip object through the Hadoop [[FileSystem]] of the destination
    * (URI-portable — a bucket URI works wherever a connector is on the
    * classpath). Entries are name-sorted with zeroed timestamps
    * (archive layout independent of listing order and wall clock;
    * part-file names still carry the write's job id, as in any Spark
    * sink). Parquet pages are
    * already compressed, so entries are STORED, not deflated — the zip
    * is the container (single PUT / single download), not a second
    * compressor. A single object is inherently single-writer: this arm
    * is the reference-parity interchange artifact; the partitioned
    * parquet/orc directory stays the 100 TB path.
    */
  private def exportZip(df: DataFrame, dest: String): Unit = {
    val spark = df.sparkSession
    val stage = new org.apache.hadoop.fs.Path(dest + ".stage")
    df.write.mode("overwrite").parquet(stage.toString)
    zipDirectory(spark, stage.toString, dest)
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(stage, true)
  }

  /** Stream a whole directory tree into ONE zip object — the container
    * arm shared by [[exportZip]] and the SQL-text `BACKUP … TO
    * Disk('backups', '….zip')` route ([[graft.GraftSql]]). Entries are
    * relative paths, name-sorted, STORED, zero-timestamped (see
    * [[exportZip]]'s determinism notes).
    */
  private[graft] def zipDirectory(spark: SparkSession, srcDir: String,
      dest: String): Unit = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    val stage = new org.apache.hadoop.fs.Path(srcDir)
    // recursive listStatus walk, not listFiles: the latter's
    // LocatedFileStatus eagerly loads permissions through a
    // file:-scheme-only java.io.File path on local-backed filesystems
    // — exactly the portability trap this layer must avoid
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
      }
    // deterministic archive: fixed entry order whatever listing order
    // the store returns
    val files = walk(stage).sortBy(_.toString)
    val out = new java.util.zip.ZipOutputStream(fs.create(destPath, true))
    try {
      // listStatus returns fs-qualified paths; qualify the stage the
      // same way or the prefix strip silently yields absolute entry
      // names on schemeless destinations
      val stagePrefix = fs.makeQualified(stage).toString + "/"
      val buf = new Array[Byte](64 * 1024)
      files.foreach { f =>
        val name = f.toString.stripPrefix(stagePrefix)
        require(name != f.toString && !name.startsWith("/"),
          s"archive entry $f does not relativize under $stagePrefix")
        val st = fs.getFileStatus(f)
        val entry = new java.util.zip.ZipEntry(name)
        entry.setMethod(java.util.zip.ZipEntry.STORED)
        entry.setSize(st.getLen)
        entry.setTime(0L)
        val in = fs.open(f)
        val crc = new java.util.zip.CRC32
        try {
          var n = in.read(buf)
          while (n >= 0) { crc.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        entry.setCrc(crc.getValue)
        out.putNextEntry(entry)
        val in2 = fs.open(f)
        try {
          var n = in2.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in2.read(buf) }
        } finally in2.close()
        out.closeEntry()
      }
    } finally out.close()
  }

  /** Schema-explicit import: text formats come back string-typed
    * without it, and even parquet/ORC benefit from the assert-early
    * contract (a drifted snapshot fails at read, not mid-query).
    */
  def importFrom(spark: SparkSession, dest: String, format: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(Formats(format), s"unsupported snapshot format '$format' (one of $Formats)")
    if (format == "zip") return importZip(spark, dest, schema)
    val r = spark.read.format(format).schema(schema)
    (if (format == "csv") r.option("header", "true") else r).load(dest)
  }

  /** Unpack the archive next to itself (overwriting any previous
    * unpack) and read the parquet back under the asserted schema.
    * Entry names are relative paths from [[exportZip]]; each is
    * re-rooted under the unpack dir and validated against `..`
    * traversal before any byte lands.
    */
  private def importZip(spark: SparkSession,
      dest: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val unpack = dest + ".unpacked"
    unzipDirectory(spark, dest, unpack)
    spark.read.schema(schema).parquet(unpack)
  }

  /** Unpack a zip object into `destDir` (clearing any previous unpack)
    * — the restore half of [[zipDirectory]], shared with the SQL-text
    * `RESTORE … FROM '….zip'` route. Entry names are relative paths;
    * each is re-rooted under the unpack dir and validated against `..`
    * traversal before any byte lands.
    */
  private[graft] def unzipDirectory(spark: SparkSession, zipFile: String,
      destDir: String): Unit = {
    val zipPath = new org.apache.hadoop.fs.Path(zipFile)
    val fs = zipPath.getFileSystem(spark.sessionState.newHadoopConf())
    val unpack = new org.apache.hadoop.fs.Path(destDir)
    fs.delete(unpack, true)
    val in = new java.util.zip.ZipInputStream(fs.open(zipPath))
    try {
      val buf = new Array[Byte](64 * 1024)
      var entry = in.getNextEntry
      while (entry != null) {
        require(!entry.getName.split('/').contains(".."),
          s"zip entry escapes the archive root: ${entry.getName}")
        if (!entry.isDirectory) {
          val out = fs.create(new org.apache.hadoop.fs.Path(unpack, entry.getName), true)
          try {
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally out.close()
        }
        entry = in.getNextEntry
      }
    } finally in.close()
  }

  /** A retention-tier view over the snapshot: day-bucket prefix length
    * selects the tier granularity (day=8, month=6 via prefix). Filters
    * on `bucket_day` are partition predicates — the scan prunes whole
    * directories, which is the point of partitioning by the bucket.
    */
  def dayView(snap: DataFrame, day: String): DataFrame =
    snap.filter(col("bucket_day") === day)

  def monthView(snap: DataFrame, month: String): DataFrame =
    snap.filter(col("bucket_day").startsWith(month))
}
