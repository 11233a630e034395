package graft
import org.apache.spark.sql.SparkSession
/** Whole-suite timer over [[Run]]: per-query medians, two JSON lines on
  * stdout, the full record in a file, exit 1 when any query failed.
  */
object Bench {
  // 1-minute loadavg, sampled by the cooldown gate and before each run.
  private def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    // Loadavg-cooldown gate (same discipline as tools/scale30.py
    // wait_quiet, adopted per the r11 lesson: BENCH_r11 was recorded at
    // loadavg ~3 and inflated every shared-query diff 1.32x uniformly).
    // Wait until the host is quiet before the first timed run, bounded
    // by a deadline so a persistently busy host still records — with
    // the contamination visible in the stamped per-run loadavg rather
    // than silently inflating the artifact. Disable with
    // SPARK_GRAFT_BENCH_COOLDOWN_SEC=0 for quick iteration.
    val cooldownMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_SEC", "600").toInt
    val cooldownLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_LOAD", "2.0").toDouble
    val cdStart = System.currentTimeMillis()
    while (loadavg() >= cooldownLoad &&
        (System.currentTimeMillis() - cdStart) < cooldownMax * 1000L)
      Thread.sleep(5000)
    val cooldownSec = (System.currentTimeMillis() - cdStart) / 1000
    if (loadavg() >= cooldownLoad)
      System.err.println(f"[bench] cooldown TIMED OUT at loadavg ${loadavg()}%.2f — recording anyway")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    val spark = Run.session("graft-bench")
    val code = try report(spark, SparkEntry.queries, only, Run.runs, outPath, cooldownSec)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Times the selected queries `runs` times, prints the two JSON lines,
    * writes `outPath`, and returns the exit code: 1 when any query failed.
    */
  def report(spark: SparkSession, queries: Map[String, Run.Query], only: Set[String],
      runs: Int, outPath: String, cooldownSec: Long): Int = {
    val sfDir = Run.sfDir
    val warmup = Run.warmup(spark, "bench")
    // A loadavg recorded at 60 on a 32-core host is measuring the
    // neighbors, not the engine — stamping it into the artifact makes
    // contamination visible to any reader instead of silently
    // inflating the record.
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    // noop sink, not count(): count() lets Catalyst prune every
    // computed column (a projection-heavy query would "run" in the
    // time of a row count); noop materializes the full result.
    val (perRun, failures) = (1 to runs).map { _ =>
      loads += loadavg()
      val (times, failed) = Run.loop(spark, sfDir, queries, only, "bench") { (_, build) =>
        val t0 = System.nanoTime()
        build().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (times.toMap, failed.keySet)
    }.unzip
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // a query that failed in any run is in no median and not in the total
    val failed = failures.flatten.toSet
    val results = perRun.flatMap(_.keySet).toSet.diff(failed).map { name =>
      name -> median(perRun.map(_(name)))
    }.toMap
    val failedJson = failed.toSeq.sorted.map(Run.json).mkString("[", ",", "]")
    // ms precision on the printed line: the driver captures only the
    // tail of our stdout, and at 100+ queries a full-double-precision
    // map overflows that window and truncates the line's head (the r03
    // BENCH file parsed to null). 3 decimals keeps the whole line
    // inside the capture window; the BENCH_OUT file below keeps full
    // precision for regression forensics.
    def fmtQ(m: Map[String, Double], prec: Int = 17): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + BigDecimal(v).setScale(prec, BigDecimal.RoundingMode.HALF_UP).bigDecimal.stripTrailingZeros.toPlainString
      }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    val loadsJson = loads.map(r3).mkString("[", ",", "]")
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","warmup_sec":${r3(warmup)},"runs":$runs,"cooldown_sec":$cooldownSec,"loadavg":$loadsJson,"failed":$failedJson"""
    println(s"""$head,"queries":${fmtQ(results, 3)},"sf":"$sfDir"}""")
    // machine-readable medians file (SPARK_GRAFT_BENCH_OUT): the
    // regression baseline the next round diffs against — per-query
    // medians plus every raw run for outlier forensics. ALWAYS also
    // written to BENCH_LAST.json in the cwd: the driver's stdout
    // capture keeps only the last 2000 chars, which a 185-query map
    // (~5.5 KB) can never fit — the committed file carries the
    // complete per-query map for the round artifact.
    val runsJson = perRun.map(m => fmtQ(m)).mkString("[", ",", "]")
    val fullJson =
      s"""{"sf":"$sfDir","cpus":${Run.cpus},"runs":$runs,"cooldown_sec":$cooldownSec,"loadavg":$loadsJson,"total_of_medians":$total,"medians":${fmtQ(results)},"per_run":$runsJson}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), fullJson)
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    // the LAST stdout line fits the driver's 2000-char tail whole: the
    // headline totals, the 10 slowest queries inline, and a pointer to
    // the complete map — so the round artifact always parses even
    // though the full per-query line above overflows the window.
    val slowest = results.toSeq.sortBy(-_._2).take(10).toMap
    println(s"""$head,"n_queries":${results.size},"slowest":${fmtQ(slowest, 3)},"queries_file":"$outPath","sf":"$sfDir"}""")
    if (failed.nonEmpty) 1 else 0
  }
}
