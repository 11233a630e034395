package graft

import java.io.File
import org.apache.commons.io.FileUtils

/** [[GraftSql]] reads each statement through the dialect's one lexer:
  * comments, a trailing `;`, backquoted names and keywords inside string
  * literals route a command exactly as its plain spelling does, and the
  * rows of an inline-data INSERT are never lexed.
  */
class GraftSqlLexSpec extends SparkSpec {

  private def withRoot[A](body: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_sqllex").toString
    try body(root) finally FileUtils.deleteDirectory(new File(root))
  }

  /** A source table `lexdb.src` feeding the SummingMergeTree MV `lexdb.mv`. */
  private def withMv[A](body: => A): A = withRoot { root =>
    spark.sql("DROP DATABASE IF EXISTS lexdb CASCADE")
    spark.sql(s"CREATE DATABASE lexdb LOCATION '$root/lexdb.db'")
    try {
      Graft.sql(spark, "CREATE TABLE lexdb.src (k Int64, v Float64) ENGINE = MergeTree ORDER BY k")
      Graft.sql(spark, "CREATE MATERIALIZED VIEW lexdb.mv ENGINE = SummingMergeTree() " +
        "ORDER BY k AS SELECT k, sum(v) AS sv FROM lexdb.src GROUP BY k")
      body
    } finally {
      Graft.sql(spark, "DROP TABLE IF EXISTS lexdb.mv")
      spark.sql("DROP DATABASE IF EXISTS lexdb CASCADE")
    }
  }

  private def mvSum(k: Long): Double =
    Graft.sql(spark, s"SELECT sum(sv) FROM lexdb.mv FINAL WHERE k = $k").head.getDouble(0)

  /** A three-day table `name` backed up to `<root>/<name>`. */
  private def backedUp(root: String, name: String): String = {
    import spark.implicits._
    Seq((1L, "2024-01-01 01:00:00"), (2L, "2024-01-02 01:00:00"), (3L, "2024-01-03 01:00:00"))
      .toDF("id", "ts").selectExpr("id", "to_timestamp(ts) AS ts")
      .createOrReplaceTempView(name)
    Graft.sql(spark, s"BACKUP TABLE $name TO '$root/$name'")
    s"$root/$name"
  }

  private def ids(dir: String): Set[Long] =
    operators.Snapshot.resolve(spark, dir).select("id").collect().map(_.getLong(0)).toSet

  test("a commented INSERT maintains the materialized view") {
    withMv {
      Graft.sql(spark, "-- c\nINSERT INTO lexdb.src VALUES (1, 2.5)")
      assert(mvSum(1) == 2.5)
    }
  }

  test("an INSERT into a backquoted name maintains the materialized view") {
    withMv {
      Graft.sql(spark, "INSERT INTO `lexdb`.`src` VALUES (2, 4.0)")
      assert(mvSum(2) == 4.0)
    }
  }

  test("a commented TRUNCATE of a table that feeds a view is refused") {
    withMv {
      Graft.sql(spark, "INSERT INTO lexdb.src VALUES (3, 1.0)")
      val e = intercept[IllegalArgumentException](
        Graft.sql(spark, "/* c */ TRUNCATE TABLE lexdb.src"))
      assert(e.getMessage.contains("lexdb.mv"))
      assert(spark.table("lexdb.src").count() == 1)
    }
  }

  test("a commented BACKUP routes") {
    withRoot { root =>
      import spark.implicits._
      Seq(1L, 2L).toDF("id").createOrReplaceTempView("lex_tick")
      val n = Graft.sql(spark, s"-- tick\nBACKUP TABLE lex_tick TO '$root/tick'")
        .head.getAs[Long]("n_rows")
      assert(n == 2L && ids(s"$root/tick") == Set(1L, 2L))
    }
  }

  test("a SETTINGS keyword inside a Disk argument is part of the object name") {
    withRoot { root =>
      import spark.implicits._
      Seq(1L).toDF("id").createOrReplaceTempView("lex_disk")
      spark.conf.set("graft.disk.lexdisk", root)
      Graft.sql(spark, "BACKUP TABLE lex_disk TO Disk('lexdisk', 'a SETTINGS b')")
      assert(ids(s"$root/a SETTINGS b") == Set(1L))
      // a literal holding a quote is refused, not read with its escape
      intercept[IllegalArgumentException](
        Graft.sql(spark, s"BACKUP TABLE lex_disk TO '$root/a''b'"))
    }
  }

  test("a DELETE with a trailing `; -- comment` routes") {
    withRoot { root =>
      val dir = backedUp(root, "lex_del")
      Graft.sql(spark, "ALTER TABLE lex_del DELETE WHERE id = 1; -- done")
      assert(ids(dir) == Set(2L, 3L))
    }
  }

  test("a DELETE on a backquoted table name routes") {
    withRoot { root =>
      val dir = backedUp(root, "lex_bq")
      Graft.sql(spark, "ALTER TABLE `lex_bq` DELETE WHERE id = 2")
      assert(ids(dir) == Set(1L, 3L))
    }
  }

  test("a commented DROP TABLE of a TO-form view drops the view and its registration") {
    withMv {
      Graft.sql(spark, "CREATE TABLE lexdb.tgt (k Int64, sv Float64) " +
        "ENGINE = SummingMergeTree() ORDER BY k")
      Graft.sql(spark, "CREATE MATERIALIZED VIEW lexdb.mv_to TO lexdb.tgt AS " +
        "SELECT k, sum(v) AS sv FROM lexdb.src GROUP BY k")
      Graft.sql(spark, "-- c\nDROP TABLE lexdb.mv_to")
      assert(!spark.catalog.tableExists("lexdb.mv_to"))
      assert(spark.conf.getOption("graft.mv.mv_to").isEmpty)
      assert(spark.catalog.tableExists("lexdb.tgt"))
    }
  }

  test("mixed-case commands and a trailing semicolon route") {
    withRoot { root =>
      val dir = backedUp(root, "lex_mix")
      Graft.sql(spark, "Alter Table lex_mix Delete Where id = 3;")
      assert(ids(dir) == Set(1L, 2L))
      val out = Graft.sql(spark, s"backup table lex_mix to '$root/mix2' settings ts_column = 'ts'")
      assert(out.head.getAs[Long]("n_rows") == 3L)
    }
  }

  test("inline TSV rows holding a lone quote and a double dash load as typed") {
    withMv {
      Graft.sql(spark, "CREATE TABLE lexdb.names (k Int64, name String, note String) " +
        "ENGINE = MergeTree ORDER BY k")
      Graft.sql(spark, "INSERT INTO lexdb.names FORMAT TSV\n1\tO'Brien\ta--b\n2\t`x\t-- c")
      val rows = spark.table("lexdb.names").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(rows == Seq((1L, "O'Brien", "a--b"), (2L, "`x", "-- c")))
    }
  }
}
