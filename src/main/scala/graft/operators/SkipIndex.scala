package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-skipping indexes over a day-partitioned snapshot — the
  * ClickHouse `INDEX … TYPE minmax / bloom_filter GRANULARITY n`
  * family (the storage feature that lets a MergeTree point query skip
  * almost every granule without a primary-key sort order). The analog
  * here indexes at DAY-PARTITION granularity: one sidecar row per day
  * holding, per indexed column, a min/max pair and/or a 1024-bit bloom
  * filter (16 longs, 4 hash functions).
  *
  * Scale shape: the index BUILD is one map-side-combined hash
  * aggregate over the snapshot (per day: 2 values per minmax column +
  * 16 longs per bloom column through the exchange — bytes per day, not
  * per row). The index itself is one row per day — pure metadata, like
  * the manifest. A pruned SCAN consults the sidecar (driver-side,
  * model-scale), selects surviving days, and reads ONLY those day
  * directories (Spark's partition pruning on `bucket_day` does the
  * file-level skip); the exact predicate is re-applied after, so a
  * bloom false positive costs one extra day's scan, never a wrong
  * answer. At 100 TB with 3 years of days, a point lookup touches the
  * handful of day partitions whose bloom admits the key — the same
  * I/O cliff ClickHouse's bloom granules buy.
  *
  * Staleness fence: the sidecar records each day's content digest
  * (manifest xor/sum) at build time. At scan time, any day whose
  * CURRENT digest differs from the recorded one — mutated, attached,
  * compacted since the build — is read UNCONDITIONALLY (no pruning for
  * that day), so a stale index can only lose efficiency, never rows.
  * Days present in the snapshot but absent from the sidecar are
  * likewise always read.
  */
object SkipIndex {

  private[operators] val BloomBits = 1024
  private[operators] val BloomHashes = 4
  private val Slots = BloomBits / 64
  private val SidecarDir = "_graft_skip_index"

  /** Hash position i of a value in [0, BloomBits). */
  private def pos(c: Column, i: Int): Column =
    pmod(xxhash64(c, lit(i)), lit(BloomBits.toLong))

  /** Per-row 64-bit word j of the row's bloom contribution. */
  private def slotWord(c: Column, j: Int): Column =
    (0 until BloomHashes).map { i =>
      val p = pos(c, i)
      when(floor(p / 64) === j,
        call_function("shiftleft", lit(1L), (p % 64).cast("int")))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Build (or rebuild) the sidecar index on `dest` for the given
    * columns. One aggregate pass over the resolved snapshot.
    */
  def build(spark: SparkSession, dest: String,
      bloomCols: Seq[String] = Nil, minmaxCols: Seq[String] = Nil): Unit = {
    require(bloomCols.nonEmpty || minmaxCols.nonEmpty, "index at least one column")
    val snap = Snapshot.resolve(spark, dest)
    val aggs =
      bloomCols.flatMap(c => (0 until Slots).map(j =>
        bit_or(slotWord(col(c), j)).as(s"bf_${c}_$j"))) ++
      minmaxCols.flatMap(c => Seq(
        min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val idx = snap.groupBy("bucket_day").agg(aggs.head, aggs.tail: _*)
    // digest fence: record what each day's content WAS when indexed
    val digests = Snapshot.manifestDigests(spark, dest)
    import spark.implicits._
    val fence = digests.toDF("bucket_day", "idx_xor", "idx_sum")
    val dir = s"$dest/$SidecarDir"
    graft.AtomicDir.recover(dir)
    idx.join(fence, Seq("bucket_day"))
      .coalesce(1).write.mode("overwrite").parquet(graft.AtomicDir.tmpPath(dir))
    graft.AtomicDir.swap(dir)
  }

  private def sidecar(spark: SparkSession, dest: String): Option[DataFrame] =
    Snapshot.readSidecar(spark, dest, SidecarDir)

  /** Days the scan may SKIP for `keep`: consult the sidecar, drop
    * days whose index row proves no match — but only where the day's
    * digest still matches the build-time fence. Returns None when no
    * sidecar exists (callers fall back to the full scan).
    */
  private def skippableDays(spark: SparkSession, dest: String,
      keep: DataFrame => DataFrame): Option[Set[String]] =
    sidecar(spark, dest).map { idx =>
      val current = Snapshot.manifestDigests(spark, dest)
        .map { case (d, x, s) => d -> ((x, s)) }.toMap
      val rows = keep(idx).select("bucket_day", "idx_xor", "idx_sum").collect()
      // `keep` returns the rows that MIGHT match; skippable = indexed
      // days minus those, restricted to fence-valid days
      val mightMatch = rows.map(_.getString(0)).toSet
      val indexed = idx.select("bucket_day", "idx_xor", "idx_sum").collect()
      indexed.filter { r =>
        val d = r.getString(0)
        !mightMatch.contains(d) &&
          current.get(d).contains((r.getLong(1), r.getString(2)))
      }.map(_.getString(0)).toSet
    }

  private def prunedScan(spark: SparkSession, dest: String,
      skippable: Option[Set[String]]): DataFrame = {
    val snap = Snapshot.resolve(spark, dest)
    skippable.filter(_.nonEmpty).fold(snap) { skip =>
      snap.filter(!col("bucket_day").isin(skip.toSeq: _*))
    }
  }

  /** Point lookup `column = value` through the bloom index: exact
    * result, only bloom-admitted (or fence-stale/unindexed) days read.
    */
  def scanEq(spark: SparkSession, dest: String, column: String, value: Any): DataFrame = {
    // the value's bloom positions, computed by the SAME Spark
    // expression that built the index (one 1-row job, model-scale)
    val posRow = spark.range(1)
      .select((0 until BloomHashes).map(i => pos(lit(value), i).as(s"p$i")): _*)
      .head()
    val positions = (0 until BloomHashes).map(posRow.getLong)
    val skippable = skippableDays(spark, dest, idx =>
      idx.filter(positions.map { p =>
        val (slot, bit) = ((p / 64).toInt, (p % 64).toInt)
        col(s"bf_${column}_$slot").bitwiseAND(lit(1L << bit)) =!= 0L
      }.reduce(_ && _)))
    prunedScan(spark, dest, skippable).filter(col(column) === lit(value))
  }

  /** Range scan `lo <= column <= hi` through the minmax index: exact
    * result, only range-overlapping (or fence-stale/unindexed) days read.
    */
  def scanRange(spark: SparkSession, dest: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val skippable = skippableDays(spark, dest, idx =>
      idx.filter(col(s"mx_$column") >= lit(lo) && col(s"mn_$column") <= lit(hi)))
    prunedScan(spark, dest, skippable)
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }
}
