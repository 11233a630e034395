package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{lit, raise_error}

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The run harness's one failure rule, through each action, over a fake
  * query map: one good query, one that throws while its DataFrame is
  * built and one that throws only when it runs.
  */
class RunSpec extends SparkSpec {

  private val queries: Map[String, Run.Query] = Map(
    "good" -> ((s, _) => s.range(3).toDF("id")),
    "bad_build" -> ((_, _) => throw new IllegalStateException("no such table \"t\"\n\tat build")),
    "bad_run" -> ((s, _) => s.range(3).select(raise_error(lit("boom at run")).as("x"))))

  private val json = new ObjectMapper()

  private def stdout[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val out = Console.withOut(buf)(body)
    (out, buf.toString("UTF-8"))
  }

  test("bench lists both failing queries in failed, keeps no timing for them, exits non-zero") {
    val file = Files.createTempFile("graft-bench", ".json")
    val (code, out) = stdout(Bench.report(spark, queries, Set.empty, 2, file.toString, 0L))
    assert(code != 0)
    val lines = out.linesIterator.filter(_.startsWith("{")).map(json.readTree).toSeq
    assert(lines.size == 2)
    lines.foreach { l =>
      assert(l.get("failed").elements().asScala.map(_.asText).toSeq == Seq("bad_build", "bad_run"))
    }
    assert(lines.head.get("queries").fieldNames().asScala.toSeq == Seq("good"))
    assert(lines(1).get("n_queries").asInt == 1)
    val full = json.readTree(Files.readString(file))
    assert(full.get("medians").fieldNames().asScala.toSeq == Seq("good"))
    assert(full.get("per_run").elements().asScala
      .forall(_.fieldNames().asScala.toSeq == Seq("good")))
  }

  test("verify writes the good result, records both failures, removes a stale result") {
    val out = Files.createTempDirectory("graft-verify")
    for (stale <- Seq("bad_build", "bad_run")) {
      Files.createDirectories(out.resolve(stale))
      Files.writeString(out.resolve(stale).resolve("part-00000-stale.parquet"), "stale")
    }
    val oracle = Map("good" -> "SELECT id FROM range(3)\tORDER BY id", "bad_run" -> "SELECT 1")
    val failed = Verify.dump(spark, queries, oracle, sf, out.toString, Set.empty)
    assert(failed.keySet == Set("bad_build", "bad_run"))
    assert(spark.read.parquet(out.resolve("good").toString).count() == 3)
    assert(Seq("bad_build", "bad_run").forall(n => !Files.exists(out.resolve(n)) ||
      !Files.list(out.resolve(n)).iterator().asScala.exists(_.getFileName.toString.startsWith("part-"))),
      "a failed query leaves no result file behind")
    val onDisk = json.readTree(Files.readString(out.resolve("failed.json")))
    assert(onDisk.fieldNames().asScala.toSet == Set("bad_build", "bad_run"))
    assert(onDisk.get("bad_build").asText == failed("bad_build"))
    assert(failed("bad_build").contains("no such table \"t\"\n\tat build"))
    assert(json.readTree(Files.readString(out.resolve("oracle_sql.json")))
      .get("good").asText == oracle("good"))
  }

  test("explain names the failing queries and still processes the rest") {
    val (failed, out) = stdout(Run.explain(spark, queries, Set("good", "bad_build", "bad_run", "nope")))
    // bad_run only throws when executed, and explain executes nothing
    assert(failed.keySet == Set("bad_build", "nope"))
    assert(failed("nope") == "no such query")
    assert(out.contains("===== good =====") && out.contains("===== bad_run ====="))
    assert(!out.contains("===== bad_build ====="))
    assert(out.contains("Range"))
  }

  test("profile records a query that throws while running and profiles the rest") {
    val (failed, out) = stdout(Run.profile(spark, queries, Set.empty, 1))
    assert(failed.keySet == Set("bad_build", "bad_run"))
    assert(out.contains("===== good  runs=") && !out.contains("===== bad_"))
  }
}
