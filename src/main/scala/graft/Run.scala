package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.immutable.SortedMap

/** The one run harness over the declared queries: the session, the
  * query selection, the per-query loop and its failure rule. [[Bench]]
  * and [[Verify]] are thin mains over it; it also runs two actions:
  * {{{
  * sbt "runMain graft.Run explain [<name> ...]"  # formatted physical plan per query
  * sbt "runMain graft.Run profile [<name> ...]"  # run times, slowest stages, plan with SQL metrics
  * }}}
  * No names selects every query; exit 1 when any of them failed. Env:
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default the
  * host's cores), SPARK_GRAFT_BENCH_RUNS (runs per query).
  */
object Run {
  type Query = (SparkSession, String) => DataFrame

  /** Failed queries, name → message of what they threw. */
  type Failures = SortedMap[String, String]

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  // Runs per query, default 3: a one-shot number on a shared host
  // records the noisy neighbor, not the engine — the r6 one-shot
  // artifact recorded a 131× contention tail on one query that its own
  // 3-run medians showed at 0.68 s. Host noise here is ±15% run to run;
  // median-of-3 is the cheapest robust default. 1 is for quick iteration.
  def runs: Int = {
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
    n
  }

  def session(appName: String): SparkSession = {
    val spark = Graft.builder(appName, Some(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warmup at the smallest scale factor, returning its seconds:
    * it JITs the Spark stack, compiles the common codegen shapes and
    * reads table footers, which the first timed query would otherwise
    * absorb (~5 s, whichever query it is). Each query still pays its
    * own planning + codegen.
    */
  def warmup(spark: SparkSession, tag: String): Double = {
    val t0 = System.nanoTime()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[$tag] warmup failed: $e") }
    (System.nanoTime() - t0) / 1e9
  }

  /** The one per-query loop: `act` runs on each query named in `only`
    * (all when empty), in name order, with a builder for its DataFrame
    * over `sf`. A query that throws, while built or while run, keeps no
    * result — its time up to the throw would read as a fast timing — and
    * is recorded as name → message; the loop goes on. A name `queries`
    * lacks fails the same way, so a typo cannot pass as an empty run.
    */
  def loop[A](spark: SparkSession, sf: String, queries: Map[String, Query],
      only: Set[String], tag: String)(act: (String, () => DataFrame) => A)
      : (Seq[(String, A)], Failures) = {
    var failed: Failures = SortedMap.empty
    def fail(name: String, message: String): Unit = {
      System.err.println(s"[$tag] $name failed: $message")
      failed += name -> message
    }
    only.diff(queries.keySet).toSeq.sorted.foreach(fail(_, "no such query"))
    val done = queries.toSeq.filter(q => only.isEmpty || only(q._1)).sortBy(_._1)
      .flatMap { case (name, q) =>
        try Some(name -> act(name, () => q(spark, sf)))
        catch { case e: Throwable => fail(name, e.toString); None }
      }
    (done, failed)
  }

  /** JSON string literal, escaping ALL control chars (<0x20): a tab in
    * oracle SQL or a newline in an exception message would otherwise
    * make the reader's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonObject(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")

  /** Prints each query's formatted (pre-AQE) physical plan under a
    * `===== name =====` header. Nothing executes. */
  def explain(spark: SparkSession, queries: Map[String, Query], only: Set[String]): Failures =
    loop(spark, sfDir, queries, only, "explain") { (name, build) =>
      val plan = build().queryExecution.explainString(FormattedMode)
      println(s"\n===== $name =====\n$plan")
    }._2

  /** Runs each query `runs` times, materializing every row of the SAME
    * QueryExecution so the AQE-final plan carries its SQL metrics; prints
    * the run times, the last run's 12 slowest stages and its executed
    * plan with operator metrics — the Spark UI's SQL tab without a UI. */
  def profile(spark: SparkSession, queries: Map[String, Query], only: Set[String],
      runs: Int): Failures = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val (i, m) = (e.stageInfo, e.stageInfo.taskMetrics)
        val dur = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        stages.add(dur -> (f"  stage ${i.stageId}%4d  $dur%6d ms  tasks=${i.numTasks}%3d  shufR=" +
          f"${m.shuffleReadMetrics.totalBytesRead / 1024}%8d KiB  shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d KiB  " +
          i.name.takeWhile(_ != '\n').take(90)))
      }
    }
    sc.addSparkListener(listener)
    try loop(spark, sfDir, queries, only, "profile") { (name, build) =>
      sc.setJobDescription(s"profile: $name")
      val timed = (1 to runs).map { _ =>
        stages.clear()
        val t0 = System.nanoTime()
        val qe = build().queryExecution
        sc.runJob(qe.toRdd, (it: Iterator[InternalRow]) => it.foreach(_ => ()))
        ((System.nanoTime() - t0) / 1e9, qe)
      }
      println(s"\n===== $name  runs=${timed.map(t => f"${t._1}%.3f").mkString(",")} s =====")
      stages.toArray(Array.empty[(Long, String)]).sortBy(-_._1).take(12).foreach(s => println(s._2))
      println(withMetrics(timed.last._2.executedPlan, 0))
    }._2
    finally { sc.removeSparkListener(listener); sc.setJobDescription(null) }
  }

  private def withMetrics(plan: SparkPlan, depth: Int): String = {
    val ms = plan.metrics.toSeq
      .filter { case (_, m) => m.value != 0 && m.value != -1 }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${m.value}" }
      .mkString(", ")
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    val line = "  " * depth + plan.nodeName + (if (ms.nonEmpty) s"  [$ms]" else "")
    (line +: kids.map(withMetrics(_, depth + 1))).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.headOption.exists(Set("profile", "explain")), "usage: graft.Run profile|explain [<name> ...]")
    val action = args.head
    val spark = session(s"graft-$action")
    val failed =
      try {
        if (action == "explain") explain(spark, SparkEntry.queries, args.tail.toSet)
        else { warmup(spark, "profile"); profile(spark, SparkEntry.queries, args.tail.toSet, runs) }
      } finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
