package graft

import graft.operators.Snapshot
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The data schema a BACKUP records in its manifest is the schema Spark
  * would infer from the written files, so reading with it returns the
  * same rows as the inference read it replaces; a manifest without one
  * still restores through inference; and a restore leaves the session
  * conf alone.
  */
class SnapshotSchemaSpec extends SparkSpec {

  private val inferenceKey = "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** The inference read of the data under `dest`, partition types off. */
  private def inferred(dest: String): DataFrame = {
    val prev = spark.conf.getOption(inferenceKey)
    spark.conf.set(inferenceKey, "false")
    try spark.read.parquet(dest)
    finally prev.fold(spark.conf.unset(inferenceKey))(spark.conf.set(inferenceKey, _))
  }

  /** Rows as sorted JSON: maps and binaries compare by value. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col): _*))).collect().map(_.getString(0)).sorted.toSeq

  /** The first timestamp column's day, else one constant day. */
  private def tsOf(df: DataFrame): Column =
    df.schema.fields.find(f => f.dataType == TimestampType || f.dataType == TimestampNTZType)
      .map(f => col(f.name)).getOrElse(to_timestamp(lit("1970-01-01 00:00:00")))

  private def backedUp(name: String, df: DataFrame): String = {
    val dest = Files.createTempDirectory(s"graft-schema-$name").toString
    Snapshot.backup(df, tsOf(df), dest)
    dest
  }

  private def checkRecorded(name: String, df: DataFrame): Unit = {
    val dest = backedUp(name, df)
    val recorded = Snapshot.requireManifest(spark, dest).schema
    val want = inferred(dest)
    assert(recorded.contains(want.schema), s"$name: recorded $recorded, inferred ${want.schema}")
    val got = Snapshot.restore(spark, dest)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want), s"$name: the explicit-schema restore differs")
  }

  Tables.names.foreach { t =>
    test(s"fixture table $t: the recorded schema is the inferred one, with the same rows") {
      checkRecorded(t, Tables(spark, sf, t))
    }
  }

  test("decimal, date, timestamp, binary, array, map, struct and all-NULL columns record " +
      "the inferred schema, with the same rows") {
    checkRecorded("types", spark.sql("""
      SELECT id,
        CAST(id * 1.25 AS DECIMAL(12, 2)) AS dec,
        date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS d,
        timestamp_seconds(1704067200 + (id % 3) * 86400) AS ts,
        CAST(CAST(id AS STRING) AS BINARY) AS bin,
        array(id, id + 1) AS arr,
        map('k', id) AS m,
        named_struct('a', id, 'b', array(named_struct('c', CAST(id AS STRING)))) AS st,
        CAST(NULL AS STRING) AS no_text,
        CAST(NULL AS DOUBLE) AS no_value
      FROM range(12)"""))
  }

  test("a manifest written without a recorded schema still restores through inference") {
    val src = Tables(spark, sf, "orders")
    val dest = backedUp("legacy", src)
    val want = rows(Snapshot.restore(spark, dest))
    // rewrite the manifest as a plain DataFrame write, with no schema
    // in its footer
    val dir = s"$dest/${Snapshot.ManifestDir}"
    val manifest = spark.read.schema(Snapshot.ManifestSchema).parquet(s"$dir/part-*").collect()
    FileUtils.deleteDirectory(new File(dir))
    spark.createDataFrame(manifest.toSeq.asJava, Snapshot.ManifestSchema)
      .coalesce(1).write.parquet(dir)
    assert(Snapshot.requireManifest(spark, dest).schema.isEmpty)
    val got = Snapshot.restore(spark, dest)
    assert(got.schema("bucket_day").dataType == StringType)
    assert(rows(got) == want)
    assert(rows(Snapshot.resolve(spark, dest)) == want)
  }

  test("restoring a manifested snapshot leaves the session conf unchanged") {
    val events = Tables(spark, sf, "events")
    val dest = backedUp("conf", events)
    val before = spark.conf.getOption(inferenceKey)
    // another thread of the same session watches the conf for the
    // whole of several restores
    @volatile var running = true
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    val watcher = new Thread(() => while (running) seen.add(spark.conf.getOption(inferenceKey)))
    watcher.start()
    try (1 to 5).foreach { _ =>
      Graft.sql(spark, s"RESTORE TABLE ev_schema_conf FROM '$dest'")
      Snapshot.restore(spark, dest).schema
    } finally { running = false; watcher.join() }
    assert(seen.asScala == Set(before), s"the conf changed during a RESTORE: $seen")
    assert(spark.conf.getOption(inferenceKey) == before)
  }
}
