package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: `runMain graft.Verify <sfDir> <outDir>
  * [<name> ...]` writes each selected query's result to `<outDir>/<name>`
  * as parquet, its oracle SQL to oracle_sql.json for the DuckDB compare,
  * and every query that threw to failed.json (name → message) for
  * tools/check.py. Exits 0 when queries fail: the compare is the gate.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Run.session("graft-verify")
    try dump(spark, SparkEntry.queries, SparkEntry.oracleSql, sfDir, outDir, args.drop(2).toSet)
    finally spark.stop()
  }

  def dump(spark: SparkSession, queries: Map[String, Run.Query], oracleSql: Map[String, String],
      sfDir: String, outDir: String, only: Set[String]): Run.Failures = {
    new java.io.File(outDir).mkdirs()
    val (_, failed) = Run.loop(spark, sfDir, queries, only, "verify") { (name, build) =>
      // removed first: a query that throws before its write starts
      // would otherwise leave an earlier run's result for the compare
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
      build().coalesce(1).write.mode("overwrite").parquet(dir.toString)
    }
    val oracle = oracleSql.filter { case (k, _) => only.isEmpty || only(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Run.jsonObject(oracle))
    Files.writeString(Paths.get(s"$outDir/failed.json"), Run.jsonObject(failed))
    failed
  }
}
