package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkAccess

/** One timed interval: `parent` is the span that caused it, `op` the
  * operation it belongs to (empty above the operation level).
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startMs: Double, endMs: Double)

/** Exchange counts of an executed plan, looking through adaptive query
  * stages, subqueries and the physical plan of an eagerly run command.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val inner = nodes.collect { case c: CommandResultExec => exchanges(c.commandPhysicalPlan) }
    val own = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    (own + inner.map(_._1).sum, reused + inner.map(_._2).sum)
  }
}

/** The traced run's recorder. Each operation runs under a Spark job tag
  * (`perfbench-op-<n>`) and a `perfbench.phase` local property, so the
  * listener can charge every job, stage, task and SQL execution to the
  * operation and phase (build or action) that started it. Process-wide
  * counters (codegen, GC, heap, `file:` calls and bytes) are read
  * around each operation; the client is one thread, so their deltas
  * belong to that operation. Everything is kept in memory and merged
  * after the listener bus drains.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def epochMs(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  def span(parent: Long, name: String, op: String, startNs: Long, endNs: Long): Long =
    synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, op, epochMs(startNs), epochMs(endNs))
      nextId
    }

  def replaceEnd(id: Long, endNs: Long): Unit = synchronized {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(endMs = epochMs(endNs))
  }

  // listener-side state, keyed by operation tag
  private val counts = mutable.HashMap[String, mutable.HashMap[String, Double]]()
  private val jobs = mutable.HashMap[Int, (String, String, Long)]()
  private val jobSpans = mutable.ArrayBuffer[(String, String, Int, Long, Long)]()
  private val stageOwner = mutable.HashMap[Int, String]()
  private val execOwner = mutable.HashMap[Long, String]()

  private def add(tag: String, key: String, v: Double): Unit =
    counts.getOrElseUpdate(tag, mutable.HashMap()).updateWith(key)(o => Some(o.getOrElse(0.0) + v))

  private def tagOf(tags: Iterable[String]): Option[String] = tags.find(_.startsWith(TagPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(t => tagOf(t.split(',')))
      .foreach { tag =>
        val phase = props.map(_.getProperty(PhaseKey, "action")).get
        jobs(e.jobId) = (tag, phase, e.time)
        e.stageIds.foreach(stageOwner(_) = tag)
        add(tag, "sched.jobs", 1)
        if (phase == "build") add(tag, "build.jobs", 1)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (tag, phase, start) =>
      jobSpans += ((tag, phase, e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach(add(_, "sched.stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { tag =>
      add(tag, "sched.tasks", 1)
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val gettingResult =
          if (i.gettingResultTime > 0) math.max(0L, i.finishTime - i.gettingResultTime) else 0L
        add(tag, "sched.delay_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult).toDouble)
        add(tag, "exec.run_ms", m.executorRunTime.toDouble)
        add(tag, "exec.cpu_ms", m.executorCpuTime / 1e6)
        add(tag, "exec.gc_ms", m.jvmGCTime.toDouble)
        add(tag, "exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        add(tag, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(tag, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(tag, "exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(tag, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(tagOf(s.jobTags).foreach(execOwner(s.executionId) = _))
    case end: SparkListenerSQLExecutionEnd =>
      val owner = synchronized(execOwner.remove(end.executionId))
      for (tag <- owner; qe <- SparkAccess.queryExecution(end)) {
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val (ex, reused) =
          try PlanShape.exchanges(qe.executedPlan) catch { case _: Throwable => (0, 0) }
        synchronized {
          add(tag, "catalyst.analysis_ms", ms("analysis"))
          add(tag, "catalyst.optimization_ms", ms("optimization"))
          add(tag, "catalyst.planning_ms", ms("planning"))
          add(tag, "catalyst.exchanges", ex)
          add(tag, "catalyst.reused_exchanges", reused)
        }
      }
    case _ =>
  }

  // process-wide counters read around each operation

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def fsStats(): Map[String, Double] = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def v(k: String) = if (s == null) 0.0 else Option(s.getLong(k)).map(_.toDouble).getOrElse(0.0)
    Map("fs.read_ops" -> CountingFileSystem.reads.get.toDouble,
      "fs.write_ops" -> CountingFileSystem.writes.get.toDouble,
      "fs.list_ops" -> CountingFileSystem.lists.get.toDouble,
      "fs.bytes_read" -> v("bytesRead"), "fs.bytes_written" -> v("bytesWritten"))
  }

  private def counters(): Map[String, Double] = fsStats() ++ Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble)

  /** Starts an operation: attaches its tag and resets the heap peaks. */
  def begin(tag: String): Map[String, Double] = {
    spark.sparkContext.addJobTag(tag)
    heapPools.foreach(_.resetPeakUsage())
    counters()
  }

  def phase(p: String): Unit = spark.sparkContext.setLocalProperty(PhaseKey, p)

  /** Ends an operation: detaches its tag and returns the counter deltas. */
  def end(tag: String, before: Map[String, Double]): Map[String, Double] = {
    spark.sparkContext.removeJobTag(tag)
    spark.sparkContext.setLocalProperty(PhaseKey, null)
    val after = counters()
    after.map { case (k, v) => k -> (v - before(k)) } +
      ("jvm.heap_used_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Waits for the listener bus, detaches, and returns every operation's
    * listener-side counters with the job spans parented under the build
    * or action span of their operation.
    */
  def finish(phaseSpan: (String, String) => Option[Long]): Map[String, Map[String, Double]] = {
    SparkAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      jobSpans.foreach { case (tag, phase, jobId, s, e) =>
        nextId += 1
        spans += Span(nextId, phaseSpan(tag, phase).getOrElse(0L), s"job $jobId", tag,
          s.toDouble, e.toDouble)
      }
      counts.map { case (k, v) => k -> v.toMap }.toMap
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
}

object Tracer {
  val TagPrefix = "perfbench-op-"
  val PhaseKey = "perfbench.phase"
}
