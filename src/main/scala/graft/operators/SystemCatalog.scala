package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `system.tables` / `system.columns` analogs ([CH] observability
  * surface, the polling companions of `system.mutations` /
  * `system.query_log` / `system.detached_parts` — SqlSurface
  * registers all of them as SQL-queryable views). ClickHouse's
  * versions are pure server metadata; graft's catalog is the Spark
  * session catalog plus the snapshot registry (`graft.snapshot.*`
  * session conf), so:
  *
  *  - [[tables]] unions the session catalog listing with the snapshot
  *    registrations. `total_rows` comes from the snapshot MANIFEST
  *    (one row per day — metadata-scale, zero data footers, the same
  *    read RESTORE reports from); an un-snapshotted relation reports
  *    NULL rather than paying a count scan — exactly ClickHouse's
  *    behavior for engines without row metadata.
  *  - [[columns]] is pure schema metadata (position/name/type/
  *    nullability) by default — constant-time at any data size. The
  *    optional `withCounts` arm adds exact per-column non-null counts
  *    in ONE scan / ONE aggregate (a single pass computing every
  *    count(col) together — never a scan per column, and no Expand);
  *    it is the operator's explicit opt-in, priced like
  *    `q_profile_table`, with [[Relational.profileTableApprox]] as the
  *    100 TB swap for the full-profile need.
  */
object SystemCatalog {

  /** One row per session-catalog relation and per registered snapshot:
    * (database, name, is_temporary, snapshot_dest, total_rows) —
    * ClickHouse's own (database, name) row identity, so two tables
    * that SHARE a simple name across databases stay two rows (r13
    * ADVICE: the simple-name join merged them). A db-qualified
    * snapshot registration (`graft.snapshot.db.t`, BACKUP DATABASE's
    * spelling) joins exactly its own catalog row; a bare registration
    * (`graft.snapshot.t`) joins by simple name only when that name is
    * UNAMBIGUOUS in the catalog — otherwise it surfaces as its own
    * unjoined row rather than guessing. Cost: a catalog listing + one
    * manifest read per REGISTERED snapshot — bounded by operator
    * actions, never data size.
    */
  def tables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // listTables() covers only the CURRENT database — enumerate every
    // catalog database (each listing re-includes the session's temp
    // views, hence the distinct). Catalog-bounded, never data-bounded.
    val dbs = spark.catalog.listDatabases().collect().map(_.name)
    val cat = dbs.flatMap(db => spark.catalog.listTables(db).collect())
      .map { t =>
        val ns = Option(t.namespace).map(_.toSeq.filter(_ != null)).getOrElse(Nil)
        val db = if (t.isTemporary || ns.isEmpty) None else Some(ns.mkString("."))
        (db, t.name, t.isTemporary)
      }.distinct
    val simpleCount = cat.groupBy(_._2).view.mapValues(_.length).toMap
    val snaps = spark.conf.getAll.collect {
      case (k, v) if k.startsWith("graft.snapshot.") =>
        val reg = k.stripPrefix("graft.snapshot.")
        val i = reg.lastIndexOf('.')
        val key: (Option[String], String) =
          if (i > 0) (Some(reg.substring(0, i)), reg.substring(i + 1))
          else (None, reg)
        key -> v
    }.toMap
    // Resolve each catalog row's snapshot and REMEMBER which
    // registration key it consumed: an orphan is a registration no
    // catalog row consumed. (The r14 form suppressed orphans whose
    // dest VALUE was joined anywhere — but two registrations may
    // legitimately share one destination (`SET graft.snapshot.x =
    // <already-backed-up dir>`, the documented attach path), and the
    // attached name then vanished from the listing whenever the
    // original backup's view was live in the same session.)
    def resolve(db: Option[String], name: String)
        : Option[((Option[String], String), String)] =
      snaps.get((db, name)).map(((db, name), _)).orElse(
        // bare registration → unambiguous simple name only
        if (simpleCount.getOrElse(name, 0) == 1)
          snaps.get((None, name)).map(((None: Option[String], name), _))
        else None)
    val catResolved = cat.map { case (db, name, tmp) =>
      (db, name, tmp, resolve(db, name))
    }
    val catRows = catResolved.map { case (db, name, tmp, r) =>
      (db, name, tmp, r.map(_._2))
    }
    val consumed = catResolved.flatMap(_._4.map(_._1)).toSet
    val orphanRows = snaps.toSeq.collect {
      case ((db, name), dest) if !consumed.contains((db, name)) &&
          !catRows.exists(r => r._1 == db && r._2 == name) =>
        (db, name, false, Some(dest))
    }
    // Manifest totals for ALL registered dests in ONE parquet read
    // (r15: the per-dest `Snapshot.parts(...).agg(sum).head` cost ~3
    // driver round-trips + 2 jobs per registration — a session with a
    // dozen snapshots paid >1 s of pure job overhead inside what is a
    // metadata-scale listing; guide §1.2 step 1: don't run N jobs
    // where one suffices). Dests whose manifest is missing/unreadable
    // fall back to the per-dest Try (same NULL semantics as before).
    val allDests = (catRows.flatMap(_._4) ++ orphanRows.flatMap(_._4))
      .distinct.filterNot(_.endsWith(".zip"))
    val manifests = allDests.flatMap { d =>
      scala.util.Try(Snapshot.readSidecar(spark, d, Snapshot.ManifestDir,
        Some(Snapshot.ManifestSchema))).toOption.flatten.map(d -> _)
    }
    val totals: Map[String, Long] =
      if (manifests.isEmpty) Map.empty
      else scala.util.Try {
        // each dest's part files tagged with the dest: one scan for all
        manifests.map { case (d, df) => df.select(lit(d).as("dest"), col("n_rows")) }
          .reduce(_ unionByName _).collect()
          .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
      }.getOrElse {
        // torn manifests: per-dest reads, old behavior
        manifests.flatMap { case (d, _) =>
          scala.util.Try(
            d -> Snapshot.parts(spark, d).agg(sum("n_rows")).head.getLong(0))
            .toOption
        }.toMap
      }
    (catRows ++ orphanRows).sortBy(r => (r._1.getOrElse(""), r._2)).toSeq
      .map { case (db, name, tmp, dest) =>
        (db, name, tmp, dest, dest.flatMap(totals.get))
      }.toDF("database", "name", "is_temporary", "snapshot_dest", "total_rows")
  }

  /** `system.dictionaries` analog: one row per registered dictionary —
    * (name, source, key, n_attr_defaults). Pure conf metadata,
    * constant-time at any data size.
    */
  def dictionaries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.conf.getAll.collect {
      case (k, v) if k.startsWith("graft.dict.") =>
        val parts = v.split("\\|", 3)
        val nDefaults = parts.lift(2).filter(_.nonEmpty)
          .fold(0L)(_.split(';').length.toLong)
        (k.stripPrefix("graft.dict."), parts(0), parts(1), nDefaults)
    }.toSeq.sortBy(_._1)
      .toDF("name", "source", "key", "n_attr_defaults")
  }

  /** One row per column of the named relation: (table, name, position,
    * type, [n_nonnull]). Metadata-only by default; `withCounts` adds
    * the exact non-null counts in one single-pass aggregate.
    */
  def columns(spark: SparkSession, table: String,
      withCounts: Boolean = false): DataFrame = {
    import spark.implicits._
    val df = spark.table(table)
    val fields = df.schema.fields.toSeq
    if (!withCounts)
      fields.zipWithIndex.map { case (f, i) =>
        (table, f.name, (i + 1).toLong, f.dataType.sql, f.nullable)
      }.toDF("table", "name", "position", "type", "is_nullable")
    else {
      val aggs = fields.map(f => count(col(f.name)).as(s"__c_${f.name}"))
      val counts = df.agg(aggs.head, aggs.tail: _*).head
      fields.zipWithIndex.map { case (f, i) =>
        (table, f.name, (i + 1).toLong, f.dataType.sql, counts.getLong(i))
      }.toDF("table", "name", "position", "type", "n_nonnull")
    }
  }
}
