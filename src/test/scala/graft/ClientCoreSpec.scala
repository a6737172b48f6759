package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Tables
import graft.config.{WorkGroup, WorkGroupConfig, WorkGroupRegistry}
import graft.exec.{QueryManager, QueryExecutionException, QueryState, ResultSet}
import graft.functions.FunctionRegistry
import graft.profile.TableDiff
import graft.render.TsvRenderer

class ClientCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val qm = new QueryManager(spark)

  test("ResultSet stringifies with NULL -> empty (VarCharValue model)") {
    val rs = ResultSet.fromDataFrame(
      spark.sql("SELECT 1 AS a, cast(null AS string) AS b, 1.5 AS c"))
    assert(rs.labels == Seq("a", "b", "c"))
    assert(rs.rows == Seq(Seq("1", "", "1.5")))
  }

  test("TSV + column -t alignment") {
    val rs = ResultSet(Seq("agg_type", "l_tax"),
      Seq(Seq("1. count", "6000"), Seq("3. mean", "0.04")))
    assert(TsvRenderer.toTsv(rs) ==
      "agg_type\tl_tax\n1. count\t6000\n3. mean\t0.04")
    assert(TsvRenderer.aligned(rs) ==
      "agg_type  l_tax\n1. count  6000\n3. mean   0.04")
    assert(TsvRenderer.fixedWidthRow(Seq(10, 4), Seq("primary", "ENABLED")) ==
      "primary    | ENABLED")
  }

  test("query lifecycle: submit -> poll -> results") {
    val id = qm.submit("SELECT 1 AS x UNION ALL SELECT 2 ORDER BY x")
    val terminal = qm.awaitTerminal(id)
    assert(terminal == QueryState.Succeeded)
    assert(qm.results(id).rows == Seq(Seq("1"), Seq("2")))
    assert(qm.workGroupOf(id) == "primary")
  }

  test("invalid SQL fails AT SUBMIT, like InvalidRequestException (aws-athena.sh:29-32)") {
    intercept[Exception](qm.submit("SELECT nonexistent_col FROM nonexistent_table"))
    intercept[Exception](qm.submit("NOT EVEN SQL"))
  }

  test("runtime failure surfaces FAILED + StateChangeReason (aws-athena.sh:50-53)") {
    val id = qm.submit("SELECT 1/0 AS x") // analyzes fine; ANSI division fails at run
    qm.awaitTerminal(id)
    qm.status(id) match {
      case QueryState.Failed(reason) => assert(reason.nonEmpty)
      case s => fail(s"expected Failed, got $s")
    }
    val e = intercept[QueryExecutionException](qm.results(id))
    assert(e.getMessage.startsWith("Query failed:"))
  }

  test("cancel -> CANCELLED, results refused (aws-athena.sh:54-56)") {
    Tables.register(spark, TestSpark.sfDir)
    // a genuinely slow query: quadratic self-crossjoin
    val id = qm.submit(
      "SELECT count(*) AS n FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c")
    qm.cancel(id)
    assert(qm.awaitTerminal(id) == QueryState.Cancelled)
    val e = intercept[QueryExecutionException](qm.results(id))
    assert(e.getMessage.contains("cancelled"))
  }

  test("CANCELLED is terminal under submit/cancel races (CAS state machine)") {
    // stress the Queued->Running vs cancel window: whatever the
    // interleaving, a cancelled execution must never report SUCCEEDED
    // later (terminal states are final — aws-athena.sh:54-56)
    val ids = (1 to 20).map { i =>
      val id = qm.submit(s"SELECT $i AS x")
      qm.cancel(id)
      id
    }
    ids.foreach { id =>
      val s = qm.awaitTerminal(id)
      assert(s == QueryState.Cancelled, s"expected CANCELLED, got $s")
    }
    Thread.sleep(200) // let any in-flight runnables finish
    ids.foreach(id => assert(qm.status(id) == QueryState.Cancelled,
      "a late-finishing runnable overwrote CANCELLED"))
  }

  test("queryFile validates .sql suffix (aws-athena.sh:147)") {
    intercept[IllegalArgumentException](qm.queryFile("/tmp/whatever.txt"))
    val p = java.nio.file.Files.createTempFile("graft", ".sql")
    java.nio.file.Files.writeString(p, "SELECT 42 AS answer")
    assert(qm.queryFile(p.toString).rows == Seq(Seq("42")))
  }

  test("queryFile translates Trino SQL like the file command") {
    val p = java.nio.file.Files.createTempFile("graft", ".sql")
    java.nio.file.Files.writeString(p, "select cardinality(ARRAY[1, 2]) as n")
    assert(qm.queryFile(p.toString).rows == Seq(Seq("2")))
  }

  test("sequential Cli queries share one worker pool") {
    import scala.jdk.CollectionConverters._
    def workers() = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-query" && t.isAlive).toSet
    val before = workers()
    val sink = new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true, "UTF-8")
    for (i <- 1 to 50)
      assert(Cli.run(Array("query", s"SELECT $i AS x"), spark, sink, sink,
        java.nio.file.Paths.get(".")) == 0)
    val added = workers() -- before
    assert(added.size <= 4, s"${added.size} new idle graft-query threads")
  }

  test("workgroup report fidelity (aws-athena-workgroup.sh)") {
    val reg = new WorkGroupRegistry
    reg.register(WorkGroup("analytics", "ENABLED",
      Some(WorkGroupConfig(Some("s3://results/path/"), Some("SSE_S3")))))
    reg.register(WorkGroup("bare", "DISABLED", None))
    reg.register(WorkGroup("halfset", "ENABLED", Some(WorkGroupConfig(None, None))))
    val report = reg.report()
    val lines = report.split("\n")
    assert(lines(0).contains("ワークグループ名"))
    assert(lines(1).startsWith("----"))
    assert(lines.exists(l => l.startsWith("analytics") && l.contains("s3://results/path/") && l.contains("SSE_S3")))
    assert(lines.exists(l => l.startsWith("bare") && l.contains("設定なし (Default使用)") && l.contains("なし")))
    assert(lines.exists(l => l.startsWith("halfset") && l.contains("未設定")))
    assert(lines.exists(_.startsWith("primary"))) // always-present default
  }

  test("function registry: list, validate, compact, invoke (aws-lambda.sh)") {
    val reg = FunctionRegistry.withBuiltins(Some(spark))
    assert(reg.list == Seq("echo", "upcase_values"))
    val e = intercept[IllegalArgumentException](reg.invoke("echo", "{not json"))
    assert(e.getMessage == "third arg json format invalid")
    // payload compacted like jq -c
    assert(reg.invoke("echo", " { \"a\" : 1 } ").payload == "{\"a\":1}")
    val r = reg.invoke("upcase_values", """{"name":"tokyo"}""")
    assert(r.statusCode == 200 && r.executedVersion == "$LATEST")
    assert(r.payload == """{"name":"TOKYO"}""")
    intercept[NoSuchElementException](reg.invoke("missing_fn", "{}"))
  }

  test("pretty() reproduces jq '.' byte-for-byte (aws-lambda.sh:48,51)") {
    val reg = new FunctionRegistry()
    // expected text captured from `jq '.'` on this exact payload:
    // 2-space indent, `"key": value` (no space before the colon),
    // arrays one element per line, empty object/array stay {} / []
    val in = """{"a":1,"b":{"c":[1,2],"d":{},"e":[]},"f":"x","g":null,"h":true,"i":1.5}"""
    val jqOutput =
      """{
        |  "a": 1,
        |  "b": {
        |    "c": [
        |      1,
        |      2
        |    ],
        |    "d": {},
        |    "e": []
        |  },
        |  "f": "x",
        |  "g": null,
        |  "h": true,
        |  "i": 1.5
        |}""".stripMargin
    assert(reg.pretty(in) == jqOutput)
    val e = intercept[IllegalArgumentException](reg.pretty("{nope"))
    assert(e.getMessage == "third arg json format invalid")
  }

  test("invokeRendered: timestamped response file, jq-pretty render, cleanup (aws-lambda.sh:43-53)") {
    val reg = FunctionRegistry.withBuiltins(Some(spark))
    val dir = java.nio.file.Files.createTempDirectory("graft_lambda")
    val clock = java.time.LocalDateTime.of(2026, 8, 12, 9, 30, 5)
    val (res, text, fileName) =
      reg.invokeRendered("upcase_values", """{"name":"tokyo"}""", dir, clock)
    assert(fileName == "response_20260812_093005.json")
    // the scratch file is deleted after rendering, like the reference's rm
    assert(!java.nio.file.Files.exists(dir.resolve(fileName)))
    assert(res.statusCode == 200)
    val expected =
      """AWS CLI Output:
        |{
        |  "StatusCode": 200,
        |  "ExecutedVersion": "$LATEST"
        |}
        |
        |Lambda Response:
        |{
        |  "name": "TOKYO"
        |}
        |""".stripMargin
    assert(text == expected)
  }

  test("diff failures attribute the failing side (aws-athena.sh:183-190)") {
    Tables.register(spark, TestSpark.sfDir)
    val base = intercept[TableDiff.TableDiffException](
      TableDiff.diff(spark, "no_such_table", "supplier"))
    assert(base.getMessage == "Failed on the table provided as the second argument.")
    assert(base.table == "no_such_table")
    val target = intercept[TableDiff.TableDiffException](
      TableDiff.diff(spark, "supplier", "also_missing"))
    assert(target.getMessage == "Failed on the table provided as the third argument.")
    assert(target.table == "also_missing")
  }

  test("table diff: self-diff empty, perturbed diff targeted (vimdiff semantics)") {
    Tables.register(spark, TestSpark.sfDir)
    assert(TableDiff.differences(spark, "supplier", "supplier").count() == 0)
    // perturb one value of one column
    spark.table("supplier").createOrReplaceTempView("supplier_base")
    spark.sql(
      """SELECT s_suppkey, s_name, s_nationkey,
        |  CASE WHEN s_suppkey = 1 THEN s_acctbal + 1000 ELSE s_acctbal END AS s_acctbal
        |FROM supplier""".stripMargin).createOrReplaceTempView("supplier_perturbed")
    val diffs = TableDiff.differences(spark, "supplier", "supplier_perturbed").collect()
    assert(diffs.nonEmpty)
    // only s_acctbal stats may differ, and count/count_distinct-ish stats survive
    assert(diffs.forall(_.getString(0) == "s_acctbal"))
    val changedStats = diffs.map(_.getString(1)).toSet
    assert(!changedStats.contains("1. count"))
  }

  test("diff renders the reference's two aligned tsv files (aws-athena.sh:194-195)") {
    Tables.register(spark, TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_diff").toString
    val (b, t, diffs) = graft.exec.Share.scope(spark) {
      val (b, t, diffs) = TableDiff.vimdiff(spark, "supplier", "supplier", dir)
      (b, t, diffs.count())
    }
    assert(diffs == 0)
    assert(b.getFileName.toString == "base_result.tsv")
    assert(t.getFileName.toString == "target_result.tsv")
    val base = java.nio.file.Files.readString(b)
    assert(base == java.nio.file.Files.readString(t))
    assert(base.startsWith("agg_type"))
    assert(base.linesIterator.size == 9) // header + 8 stat rows
  }
}
