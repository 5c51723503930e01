package graft

import graft.cli.{Main, Show}
import graft.operators.{Compare, ParquetMeta, SchemaDiff}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** The CLI's output path: the [[Show]] renderer against `Dataset.show`, the
  * session-free `view-parquet-meta`, and one execution per command.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def stdout(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  private def stderr(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(old)
    buf.toString("UTF-8")
  }

  private def noSession: Nothing = throw new AssertionError("session forced")

  /** The query executions `body` runs, in order. Listener events arrive in
    * order on one bus, after the action returns: what lies between the events
    * of two marker queries run before and after `body` is exactly its own.
    */
  private def executions(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(f -> qe)
    }
    def isMarker(e: (String, QueryExecution)) =
      e._2.analyzed.output.exists(_.name == "cli_spec_marker")
    def mark(n: Int): Unit = {
      spark.range(1).toDF("cli_spec_marker").collect()
      eventually(timeout(30.seconds)) { assert(seen.asScala.count(isMarker) == n) }
    }
    spark.listenerManager.register(listener)
    try { mark(1); body; mark(2) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.dropWhile(!isMarker(_)).tail.takeWhile(!isMarker(_))
  }

  private def shown(df: DataFrame, n: Int): String = stdout(df.show(n, truncate = false))

  private def rendered(df: DataFrame, n: Int): String = {
    val rows = df.collect()
    stdout(println(Show.table(df.columns, rows, n)))
  }

  test("renderer is byte-identical to show: nulls, empties, wide chars, control chars") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("tab\tname", StringType), StructField("ok", BooleanType),
      StructField("n", IntegerType)))
    val values = Seq(null, "", " ", "日本語テキスト", "한국어 text", "ｆｕｌｌ", "a\tb", "line1\nline2",
      "\r\f\b\u000B\u0007", "mixed 中文 and ascii", "x" * 40)
    val rows = values.zipWithIndex.map { case (v, i) =>
      Row(if (i == 2) null else i.toLong, v, if (i % 3 == 0) null else s"$v|$i",
        if (i % 4 == 0) null else i % 2 == 0, -i)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    for (n <- Seq(20, 5, 1, 0)) assert(rendered(df, n) == shown(df, n), s"n=$n")
    val empty = df.limit(0)
    assert(rendered(empty, 20) == shown(empty, 20))
  }

  test("renderer prints show's footer past 1000 rows") {
    val df = spark.range(1003).selectExpr("id", "concat('r', id) AS name")
    val out = rendered(df, 1000)
    assert(out == shown(df, 1000))
    assert(out.endsWith("+\nonly showing top 1000 rows\n"))
    val exact = df.limit(1000)
    assert(rendered(exact, 1000) == shown(exact, 1000))
  }

  test("view-parquet-meta prints what the DataFrame wrappers show, without a session") {
    val dir = new java.io.File(Tables.verifySfDir)
    val files = dir.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    assert(files.length >= 10)
    for (f <- files) {
      var rc = 0
      val cli = stdout { rc = Main.dispatch(noSession, List("view-parquet-meta", f)) }
      assert(rc == 0, f)
      val viaSpark = stdout {
        ParquetMeta.fileInfo(spark, f).show(truncate = false)
        ParquetMeta.metadata(spark, f).show(1000, truncate = false)
      }
      assert(cli == viaSpark, f)
    }
  }

  test("usage errors exit 1 without a session") {
    for (args <- Seq(List("view"), List("schema"), List("count"), List("convert", "only-one"),
        List("query"), List("view-parquet-meta"), List("compare", "one"), List("describe"),
        List("compact", "in-only"), List("schema-diff", "one"), List("no-such-command")))
      assert(Main.dispatch(noSession, args) == 1, args)
  }

  test("the session-free footer conf takes spark.hadoop.* like a SparkContext") {
    sys.props("spark.hadoop.cli.spec.probe") = "on"
    try assert(ParquetMeta.hadoopConf().get("cli.spec.probe") == "on")
    finally sys.props -= "spark.hadoop.cli.spec.probe"
    assert(ParquetMeta.hadoopConf().get("io.file.buffer.size") ==
      spark.sparkContext.hadoopConfiguration.get("io.file.buffer.size"))
  }

  test("view-parquet-meta errors keep the Error:/-1 contract without a session") {
    val notParquet = Tables.scratch("cli_spec_not_parquet.parquet")
    java.nio.file.Files.write(java.nio.file.Paths.get(notParquet), "not a footer".getBytes)
    for (p <- Seq(Tables.scratch("cli_spec_missing.parquet"), notParquet)) {
      var rc = 0
      val err = stderr { rc = Main.dispatch(noSession, List("view-parquet-meta", p)) }
      assert(rc == -1, p)
      assert(err.startsWith("Error: "), err)
    }
  }

  test("compare --key runs its summary once and prints show's table") {
    import spark.implicits._
    val l = Tables.scratch("cli_once_l.parquet")
    val r = Tables.scratch("cli_once_r.parquet")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v").write.mode("overwrite").parquet(l)
    Seq((3L, 30.0), (2L, 99.0), (4L, 40.0)).toDF("k", "v").write.mode("overwrite").parquet(r)
    val expected = shown(
      Compare.summarizeByKey(spark.read.parquet(l), spark.read.parquet(r), Seq("k")), 20)
    var rc = 0
    var out = ""
    val runs = executions {
      out = stdout { rc = Main.dispatch(spark, List("compare", "--key", "k", l, r)) }
    }
    assert(rc == -1)
    assert(out == expected)
    assert(runs.map(_._1) == Seq("collect"), runs.map(_._1))
  }

  test("schema-diff runs its report once and prints show's table") {
    import spark.implicits._
    val a = Tables.scratch("cli_once_a.parquet")
    val b = Tables.scratch("cli_once_b.parquet")
    Seq((1L, "x")).toDF("k", "s").write.mode("overwrite").parquet(a)
    Seq((1, 2.0)).toDF("k", "d").write.mode("overwrite").parquet(b)
    val expected = shown(
      SchemaDiff.diff(spark, spark.read.parquet(a), spark.read.parquet(b)), 1000)
    var rc = 0
    var out = ""
    val runs = executions {
      out = stdout { rc = Main.dispatch(spark, List("schema-diff", a, b)) }
    }
    assert(rc == -1)
    assert(out == expected)
    assert(runs.map(_._1) == Seq("collect"), runs.map(_._1))
  }

  test("query prints or writes: --output writes once and prints nothing") {
    val t = Tables.scratch("cli_once_t.parquet")
    spark.range(5).toDF("k").write.mode("overwrite").parquet(t)
    val sql = "SELECT k * 7 AS cli_once FROM cli_once_t"
    def ofQuery(runs: Seq[(String, QueryExecution)]) =
      runs.filter(_._2.analyzed.exists(_.output.exists(_.name == "cli_once")))

    val out = Tables.scratch("cli_once_out.parquet")
    var printed = ""
    val writes = ofQuery(executions {
      printed = stdout {
        assert(Main.dispatch(spark, List("query", "--table", t, "--sql", sql, "--output", out)) == 0)
      }
    })
    assert(printed.isEmpty, printed)
    assert(writes.length == 1, writes.map(_._1))
    assert(spark.read.parquet(out).count() == 5L)

    val expected = shown(spark.sql(sql), 100)
    val shows = ofQuery(executions {
      printed = stdout { assert(Main.dispatch(spark, List("query", "--table", t, "--sql", sql)) == 0) }
    })
    assert(printed == expected)
    assert(shows.length == 1, shows.map(_._1))
  }
}
