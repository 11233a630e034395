package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Round-15 optimization tooling: run selected queries (materializing
  * every row of the SAME QueryExecution, so the AQE-final plan carries
  * its SQL metrics) and print per-run wall times, a per-stage time
  * breakdown (listener), and the executed plan annotated with operator
  * metrics — the Spark UI's SQL tab signal with the UI disabled
  * (guide §7.1/§7.2). Read-only with respect to the query surface.
  *
  * Usage: sbt "runMain graft.Profile <name> [<name> ...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (the host's cores),
  *      SPARK_GRAFT_PROFILE_RUNS (default 3).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "3").toInt
    val spark = Graft.builder("graft-profile", Some(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val dur = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        stages.add((i.stageId, i.name.takeWhile(_ != '\n').take(90), dur,
          i.numTasks, i.taskMetrics.shuffleReadMetrics.totalBytesRead,
          i.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    })

    // one untimed warmup of the whole stack
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[profile] warmup failed: $e") }

    def materialize(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      spark.sparkContext.runJob(qe.toRdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
        })

    def renderWithMetrics(plan: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
      val ms = plan.metrics.toSeq
        .filter { case (_, m) => m.value != 0 && m.value != -1 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(", ")
      sb.append("  " * depth).append(plan.nodeName)
        .append(if (ms.nonEmpty) s"  [$ms]" else "").append('\n')
      val kids = plan match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case p => p.children ++ p.subqueries
      }
      kids.foreach(renderWithMetrics(_, depth + 1, sb))
    }

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] no such query: $name")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"profile: $name")
          val times = (1 to (runs - 1).max(0)).map { _ =>
            val t0 = System.nanoTime()
            materialize(fn(spark, sfDir).queryExecution)
            (System.nanoTime() - t0) / 1e9
          }
          // final instrumented run: fresh stage log + kept QueryExecution
          stages.clear()
          val qe = fn(spark, sfDir).queryExecution
          val t0 = System.nanoTime()
          materialize(qe)
          val tLast = (System.nanoTime() - t0) / 1e9
          val all = (times :+ tLast).map(t => f"$t%.3f").mkString(",")
          println(f"\n===== $name  runs=$all s =====")
          val st = stages.toArray(Array.empty[(Int, String, Long, Int, Long, Long)])
          st.sortBy(-_._3).take(12).foreach { case (id, nm, dur, nt, sr, sw) =>
            println(f"  stage $id%4d  $dur%6d ms  tasks=$nt%3d  shufR=${sr / 1024}%8d KiB  shufW=${sw / 1024}%8d KiB  $nm")
          }
          val sb = new StringBuilder
          renderWithMetrics(qe.executedPlan, 0, sb)
          println(sb.result())
          spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
