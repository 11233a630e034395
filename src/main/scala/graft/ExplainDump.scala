package graft

/** Round-15 optimization tooling: dump `.explain("formatted")` for every
  * declared query to one file per query (plans/r15/<name>_<suffix>.txt),
  * so before/after plan shapes are committable evidence. Read-only with
  * respect to the query surface — it builds each DataFrame exactly as
  * the bench does and prints the planned (pre-AQE) physical plan.
  *
  * Env:
  *  - SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *  - SPARK_GRAFT_CPUS     local core count (default: the host's cores)
  *  - SPARK_GRAFT_PLAN_DIR output dir (default plans/r15)
  *  - SPARK_GRAFT_PLAN_SUFFIX file suffix (default "_before")
  *  - SPARK_GRAFT_PLAN_ONLY comma-separated query-name filter
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r15")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    val only = sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Graft.builder("graft-plandump", Some(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_(q._1))).foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"), txt)
          println(s"[explaindump] $name -> $outDir/$name$suffix.txt")
        } catch {
          case e: Throwable => System.err.println(s"[explaindump] $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
