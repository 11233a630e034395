package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: build the session, run the
  * workload's checked warm-up, then time it for `seconds` with tracing
  * off; a traced run splits the `seconds` into an untraced, a traced and
  * another untraced window of equal length.
  * Writes every operation, iteration, span and host stamp as one JSON
  * object to `out`; `run.py` turns that into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * fixtures, disk, out, cpus, queries (comma-separated), expected (TSV
  * of name, rows, hash).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val cpus = a("cpus").toInt
    val master = s"local[$cpus]"
    val traced = a("trace") == "1"
    if (traced) CountingFileSystem.install()

    val spark = graft.Graft.builder("perfbench", Some(master), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val w: Workload = workload match {
      case "lifecycle" => new LifecycleWorkload(spark, a("fixtures"), a("disk"), seed)
      case _ =>
        val expected = Files.readAllLines(Paths.get(a("expected"))).toArray(Array.empty[String])
          .map(_.split('\t')).collect { case Array(n, rows, hash) => n -> Expect(rows.toLong, hash) }.toMap
        val names = a("queries").split(',').toSeq.filter(_.nonEmpty)
        new QueryWorkload(spark, a("fixtures"), names, expected, seed, graft.SparkEntry.queries)
    }
    val r = new Runner(spark)
    w.warmup(r)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    // the heap the warm-up leaves once garbage is gone: cached plans,
    // generated code, resolved tables and session state. The warm-up runs
    // in a fixed order, so this does not depend on the seed. Events still
    // queued for listeners pin query executions, so drain them first.
    org.apache.spark.sql.perfbench.SparkAccess.drainListenerBus(spark.sparkContext)
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // a traced run brackets its traced window with a second untraced one,
    // so that warm-up drift cancels out of the tracing overhead
    val windows = Seq("untraced" -> None) ++
      (if (traced) Seq("traced" -> Some(new Tracer(spark)), "untraced_after" -> None) else Nil)
    val least = if (traced) 1 else w.minIterations
    val measured = windows.map { case (name, tracer) =>
      val deadline = System.nanoTime() + (seconds / windows.size * 1e9).toLong
      val (t0, t1) = r.measure(name, tracer)(w.run(r, deadline, least))
      name -> (t1 - t0) / 1e9
    }
    val spans = windows.flatMap(_._2).flatMap(_.allSpans)

    val heapMb = Runtime.getRuntime.maxMemory / 1048576.0
    val sparkVersion = spark.version
    spark.stop()
    val vmHwmMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

    val fingerprints = w match {
      case q: QueryWorkload =>
        q.observed.toSeq.map { case (n, v) => Json.obj("name" -> n, "rows" -> v.rows, "hash" -> v.hash) }
      case _ => Nil
    }
    val json = Json.obj(
      "workload" -> workload, "seed" -> seed, "setup_s" -> setupS, "session_s" -> sessionS,
      "rss_peak_mb" -> vmHwmMb, "heap_live_mb" -> heapLiveMb, "master" -> master, "max_heap_mb" -> heapMb, "spark_version" -> sparkVersion,
      "java_version" -> System.getProperty("java.version"),
      "windows" -> Json.obj(measured.map { case (n, s) => n -> (s: Any) }: _*),
      "ops" -> r.records.toSeq.map { o =>
        Json.obj("name" -> o.name, "window" -> o.window, "iter" -> o.iter, "tag" -> o.tag,
          "ok" -> o.ok, "error" -> o.error.orNull,
          "latency_s" -> (if (o.ok) o.latencyS else null), "layers" -> o.layers)
      },
      "iterations" -> w.iterations.toSeq.map { case (win, i, s) => Json.obj("window" -> win, "iter" -> i, "wall_s" -> s) },
      "extras" -> w.extras.toSeq.map { case (win, k, v) => Json.obj("window" -> win, "name" -> k, "value" -> v) },
      "fingerprints" -> fingerprints,
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Files.writeString(Paths.get(a("out")), json.json)
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
