package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness's own checks, on a `local[1]` session with three toy
  * queries: a builder that throws and a query whose fingerprint differs
  * from the expected one must both count as failed on every operation
  * and keep no latency; a correct query must pass. Also checks that the
  * fingerprint ignores row order and floating-point noise but not a
  * changed value. Prints `SELFTEST OK` or exits with code 1.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    def expect(ok: Boolean, what: String): Unit = if (!ok) problems += what

    val rows = Seq((1L, 0.1 + 0.2), (2L, 1.0 / 3), (3L, 2.5))
    val good = rows.toDF("k", "v")
    val fp = Fingerprint.of(good)
    expect(Fingerprint.of(rows.reverse.toDF("k", "v")) == fp, "row order changed the fingerprint")
    expect(Fingerprint.of(rows.map { case (k, v) => (k, v * (1 + 1e-13)) }.toDF("k", "v")) == fp,
      "floating-point noise changed the fingerprint")
    expect(Fingerprint.of(rows.map { case (k, v) => (k, v + 1e-3) }.toDF("k", "v")) != fp,
      "a changed value kept the fingerprint")

    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "good" -> ((_, _) => good),
      "throws" -> ((_, _) => throw new IllegalStateException("builder failed")),
      "mismatch" -> ((_, _) => good.limit(2)))
    val expected = Map("good" -> Expect(fp.rows, fp.hash), "mismatch" -> Expect(fp.rows, fp.hash),
      "throws" -> Expect(fp.rows, fp.hash))
    val w = new QueryWorkload(spark, "", queries.keys.toSeq.sorted, expected, 1L, queries)
    val r = new Runner(spark)
    w.warmup(r)
    r.measure("untraced", None)(w.run(r, System.nanoTime() + 500000000L, 1))
    val byName = r.records.groupBy(_.name)
    expect(byName("good").forall(_.ok), "the correct query failed")
    expect(byName("throws").nonEmpty && byName("throws").forall(!_.ok), "a throwing builder was not counted as failed")
    expect(byName("throws").forall(_.error.exists(_.contains("builder failed"))), "a throwing builder lost its message")
    expect(byName("mismatch").nonEmpty && byName("mismatch").forall(!_.ok), "a fingerprint mismatch was not counted as failed")
    expect(byName("mismatch").filter(_.window == "untraced").forall(_.error.exists(_.contains("warm-up check failed"))),
      "timed runs of a mismatching query were not failed")
    spark.stop()
    if (problems.isEmpty) println("SELFTEST OK")
    else {
      problems.foreach(p => System.err.println(s"SELFTEST FAILED: $p"))
      sys.exit(1)
    }
  }
}
