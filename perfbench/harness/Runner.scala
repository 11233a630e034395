package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation as the client saw it. A failed operation keeps no
  * latency: it is counted, named with its message, and left out of
  * every latency sample.
  */
final class OpRecord(val name: String, val window: String, val iter: Int, val tag: String) {
  var latencyS: Double = 0.0
  var buildS: Double = 0.0
  var error: Option[String] = None
  var layers: Map[String, Double] = Map.empty
  def ok: Boolean = error.isEmpty
  def fail(message: String): Unit = if (error.isEmpty) error = Some(message)
}

/** Drives operations from one client thread, in a closed loop. Each
  * operation is a build step (the call that returns something to run)
  * and an action on its result, timed together. With a [[Tracer]]
  * attached the two steps also become spans, and the operation's jobs
  * are charged to it.
  */
final class Runner(spark: SparkSession) {
  val records = mutable.ArrayBuffer[OpRecord]()
  private var window = "warmup"
  private var tracer: Option[Tracer] = None
  private var parentSpan = 0L
  private var seq = 0
  private val phaseSpans = mutable.HashMap[(String, String), Long]()

  def tracing: Boolean = tracer.isDefined
  def currentWindow: String = window

  def op[A, B](name: String, iter: Int)(build: => A)(act: A => B): (OpRecord, Option[B]) = {
    seq += 1
    val rec = new OpRecord(name, window, iter, Tracer.TagPrefix + seq)
    val before = tracer.map { t => val b = t.begin(rec.tag); t.phase("build"); b }
    val t0 = System.nanoTime()
    var t1 = t0
    val result =
      try {
        val built = build
        t1 = System.nanoTime()
        tracer.foreach(_.phase("action"))
        Some(act(built))
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          rec.fail(Option(e.getMessage).map(m => s"${e.getClass.getName}: $m")
            .getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse(""))
          None
      }
    val t2 = System.nanoTime()
    rec.latencyS = (t2 - t0) / 1e9
    rec.buildS = (t1 - t0) / 1e9
    for (t <- tracer; b <- before) {
      rec.layers = t.end(rec.tag, b)
      val opSpan = t.span(parentSpan, s"op $name", rec.tag, t0, t2)
      phaseSpans((rec.tag, "build")) = t.span(opSpan, "build", rec.tag, t0, t1)
      phaseSpans((rec.tag, "action")) = t.span(opSpan, "action", rec.tag, t1, t2)
    }
    records += rec
    (rec, result)
  }

  /** Runs one pass or tick under its own span. */
  def iteration[T](label: String, iter: Int)(body: => T): T = {
    val outer = parentSpan
    val t0 = System.nanoTime()
    val id = tracer.map(_.span(outer, s"$label $iter", "", t0, t0))
    id.foreach(parentSpan = _)
    try body
    finally {
      parentSpan = outer
      for (t <- tracer; i <- id) t.replaceEnd(i, System.nanoTime())
    }
  }

  /** Runs a measurement window; with `traced` the tracer records it.
    * Returns the window's (start, end) in nanoseconds.
    */
  def measure(name: String, traced: Option[Tracer])(body: => Unit): (Long, Long) = {
    window = name
    tracer = traced
    traced.foreach(_.attach())
    val t0 = System.nanoTime()
    var t1 = t0
    val id = traced.map(_.span(0L, s"window $name", "", t0, t0))
    id.foreach(parentSpan = _)
    try body
    finally {
      t1 = System.nanoTime()
      parentSpan = 0L
      for (t <- traced; i <- id) {
        t.replaceEnd(i, t1)
        val counts = t.finish((tag, phase) => phaseSpans.get((tag, phase)))
        records.filter(r => r.window == name).foreach { r =>
          r.layers = r.layers ++ counts.getOrElse(r.tag, Map.empty) + ("build.ms" -> r.buildS * 1000)
        }
      }
      tracer = None
      window = "done"
    }
    (t0, t1)
  }
}
