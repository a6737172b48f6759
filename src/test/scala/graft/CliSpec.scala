package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end drive of the [[Cli]] dispatcher — the reference's
  * observable CLI behavior (/root/reference/aws-athena.sh:128-167,
  * aws-lambda.sh:18-35): whitelist gate, per-command argument errors
  * with help + rc 1, and each command's happy-path choreography.
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def capture(args: String*): (Int, String, String) = {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    val outB = new ByteArrayOutputStream(); val errB = new ByteArrayOutputStream()
    val out = new PrintStream(outB, true, "UTF-8")
    val err = new PrintStream(errB, true, "UTF-8")
    val workDir = Files.createTempDirectory("graft-cli-spec")
    val rc = Cli.run(args.toArray, spark, out, err, workDir)
    (rc, outB.toString(StandardCharsets.UTF_8), errB.toString(StandardCharsets.UTF_8))
  }

  test("unknown command: whitelist error + help + rc 1 (aws-athena.sh:129-132)") {
    val (rc, _, err) = capture("bogus")
    assert(rc == 1)
    assert(err.contains("COMMAND is required as 1st arg: query/file/vimdiff/list/invoke/workgroups"))
    assert(err.contains("query [query string] ... execution and get result the query"))
    assert(err.contains("invoke [lambda function name] [json format payload] ... invoke lambda function"))
  }

  test("no command at all takes the same whitelist path") {
    val (rc, _, err) = capture()
    assert(rc == 1 && err.contains("COMMAND is required as 1st arg"))
  }

  test("query without a sentence: exact error + help + rc 1 (aws-athena.sh:135-138)") {
    val (rc, _, err) = capture("query")
    assert(rc == 1)
    assert(err.contains("Error: query requires second arg: query sentence"))
  }

  test("query happy path: id echo, succeeded banner, aligned result (aws-athena.sh:36,43,141)") {
    val (rc, out, _) = capture("query",
      "SELECT n_name FROM nation WHERE n_nationkey < 2 ORDER BY n_nationkey")
    assert(rc == 0)
    assert(out.contains("Query Execution ID: "))
    assert(out.contains("Query succeeded. Fetching results..."))
    assert(out.contains("n_name"))
    assert(out.contains("NATION_0") && out.contains("NATION_1"))
  }

  test("query accepts the reference's Trino dialect (double-quoted identifiers)") {
    val (rc, out, _) = capture("query",
      """SELECT count("n_name") AS n FROM nation""")
    assert(rc == 0)
    assert(out.contains("25"))
  }

  test("query submit-time analysis error: start-execution error + rc 1 (aws-athena.sh:29-32)") {
    val (rc, _, err) = capture("query", "SELECT x FROM no_such_table_anywhere")
    assert(rc == 1)
    assert(err.contains("Error starting query execution:"))
  }

  test("query runtime failure: 'Query failed.' + reason to stderr + rc 1 (aws-athena.sh:50-53)") {
    val (rc, _, err) = capture("query", "SELECT 1/0 AS x") // ANSI: fails at run, not analysis
    assert(rc == 1)
    assert(err.contains("Query failed."))
  }

  test("file requires a .sql suffix (aws-athena.sh:146-149), empty arg included") {
    for (bad <- Seq(Seq("file"), Seq("file", "query.txt"))) {
      val (rc, _, err) = capture(bad: _*)
      assert(rc == 1)
      assert(err.contains("Error: file requires second arg: .sql file"))
    }
  }

  test("file happy path reads and runs the .sql file (aws-athena.sh:151-156)") {
    val f = Files.createTempFile("graft-cli", ".sql")
    Files.writeString(f, "SELECT count(*) AS n FROM region")
    val (rc, out, _) = capture("file", f.toString)
    assert(rc == 0)
    assert(out.contains("Query succeeded. Fetching results..."))
    assert(out.contains("5"))
  }

  test("vimdiff argument gates: missing args, then dot-format check (aws-athena.sh:162-168)") {
    val (rc1, _, err1) = capture("vimdiff", "spark_catalog.default.nation")
    assert(rc1 == 1)
    assert(err1.contains("Error: vimdiff requires second and third arg: Athena database_name.table_name"))
    val (rc2, _, err2) = capture("vimdiff", "nodots", "alsonodots")
    assert(rc2 == 1)
    assert(err2.contains("Error: Arguments must be in the format 'catalog_name.database_name.table_name' and contain dot (.)"))
  }

  test("vimdiff happy path writes base_result.tsv/target_result.tsv (aws-athena.sh:194-195)") {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    val outB = new ByteArrayOutputStream(); val errB = new ByteArrayOutputStream()
    val workDir = Files.createTempDirectory("graft-cli-vimdiff")
    val rc = Cli.run(
      Array("vimdiff", "spark_catalog.default.nation", "spark_catalog.default.nation"),
      spark, new PrintStream(outB, true, "UTF-8"), new PrintStream(errB, true, "UTF-8"), workDir)
    assert(rc == 0)
    assert(Files.exists(workDir.resolve("base_result.tsv")))
    assert(Files.exists(workDir.resolve("target_result.tsv")))
    // identical tables → identical renders, and no differing cells
    assert(Files.readString(workDir.resolve("base_result.tsv")) ==
      Files.readString(workDir.resolve("target_result.tsv")))
  }

  test("the default namespace matches in any case: query and vimdiff") {
    val (rc, out, err) = capture("query",
      "select count(*) as n from SPARK_CATALOG.DEFAULT.orders")
    assert(rc == 0, err)
    val n = spark.table("orders").count()
    assert(out.linesIterator.exists(_.trim == n.toString), out)
    val workDir = Files.createTempDirectory("graft-cli-vimdiff-case")
    val outB = new ByteArrayOutputStream(); val errB = new ByteArrayOutputStream()
    val rc2 = Cli.run(
      Array("vimdiff", "SPARK_CATALOG.default.region", "spark_catalog.DEFAULT.region"),
      spark, new PrintStream(outB, true, "UTF-8"), new PrintStream(errB, true, "UTF-8"), workDir)
    assert(rc2 == 0, errB.toString(StandardCharsets.UTF_8))
    assert(Files.readString(workDir.resolve("base_result.tsv")) ==
      Files.readString(workDir.resolve("target_result.tsv")))
    // the diff render is its header alone, then the files line
    val lines = outB.toString(StandardCharsets.UTF_8).linesIterator.toSeq
    assert(lines.size == 2 && lines(1) == "wrote base_result.tsv target_result.tsv", lines)
  }

  test("vimdiff profiles each side once and prints what per-side profiles print") {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    spark.sql(
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey = 3 THEN n_regionkey + 1 ELSE n_regionkey END AS n_regionkey
        |FROM nation""".stripMargin).createOrReplaceTempView("nation_perturbed")
    val outB = new ByteArrayOutputStream()
    val workDir = Files.createTempDirectory("graft-cli-vimdiff")
    val rc = Cli.run(
      Array("vimdiff", "spark_catalog.default.nation", "spark_catalog.default.nation_perturbed"),
      spark, new PrintStream(outB, true, "UTF-8"), System.err, workDir)
    assert(rc == 0)
    // the separate per-side renders and diff the command used to run
    import graft.exec.ResultSet
    import graft.profile.{TableDiff, TableProfiler}
    import graft.render.TsvRenderer
    def render(df: org.apache.spark.sql.DataFrame) =
      TsvRenderer.aligned(ResultSet.fromDataFrame(df))
    val (base, target, diffs) = graft.exec.Share.scope(spark) {
      (render(TableProfiler.profileTable(spark, "nation")),
        render(TableProfiler.profileTable(spark, "nation_perturbed")),
        render(TableDiff.differences(spark, "nation", "nation_perturbed")))
    }
    assert(Files.readString(workDir.resolve("base_result.tsv")) == base + "\n")
    assert(Files.readString(workDir.resolve("target_result.tsv")) == target + "\n")
    assert(outB.toString(StandardCharsets.UTF_8) ==
      diffs + "\nwrote base_result.tsv target_result.tsv\n")
    assert(diffs.contains("n_regionkey"))
  }

  /** Spark jobs started while `body` ran, counted by a listener. A
    * marker job after `body` closes the count: the listener bus
    * delivers in order, so once the marker's start is seen every
    * earlier job start has been counted. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val Marker = "graft.spec.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(Marker) != null)
          markerSeen.trySuccess(())
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Marker, null)
      Await.result(markerSeen.future, 1.minute)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a vimdiff runs at most 20 Spark jobs") {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    spark.sql(
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey = 3 THEN n_regionkey + 1 ELSE n_regionkey END AS n_regionkey
        |FROM nation""".stripMargin).createOrReplaceTempView("nation_perturbed")
    val workDir = Files.createTempDirectory("graft-cli-vimdiff")
    var rc = -1
    val jobs = jobsOf {
      rc = Cli.run(
        Array("vimdiff", "spark_catalog.default.nation", "spark_catalog.default.nation_perturbed"),
        spark, new PrintStream(new ByteArrayOutputStream()), System.err, workDir)
    }
    assert(rc == 0)
    assert(jobs > 0, "no job counted: the listener saw nothing")
    assert(jobs <= 20, s"$jobs Spark jobs for one vimdiff")
  }

  test("query with a dotted output label renders (the approx_percentile label)") {
    val (rc, out, err) = capture("query",
      "select c_mktsegment, approx_percentile(c_acctbal, 0.5) from customer group by 1 order by 1")
    assert(rc == 0, err)
    assert(out.linesIterator.exists(l =>
      l.startsWith("c_mktsegment") && l.contains("approx_percentile(c_acctbal, 0.5")))
  }

  test("query with duplicate output labels keeps both columns") {
    val (rc, out, err) = capture("query",
      "SELECT n_name, n_name FROM nation WHERE n_nationkey = 0")
    assert(rc == 0, err)
    assert(out.linesIterator.exists(l => l.split(" +").toSeq == Seq("n_name", "n_name")))
    assert(out.linesIterator.exists(l => l.split(" +").toSeq == Seq("NATION_0", "NATION_0")))
    val rs = graft.exec.ResultSet.fromDataFrame(
      spark.sql("SELECT 1 AS a, CAST(NULL AS INT) AS a, 3 AS `x.y`"))
    assert(rs.labels == Seq("a", "a", "x.y"))
    assert(rs.rows == Seq(Seq("1", "", "3")))
  }

  test("vimdiff failure attributes the side, reference message (aws-athena.sh:183-190)") {
    val (rc, _, err) = capture("vimdiff",
      "spark_catalog.default.no_such_table", "spark_catalog.default.nation")
    assert(rc == 1)
    assert(err.contains("Failed on the table provided as the second argument."))
  }

  test("list prints one function name per line (aws-lambda.sh:38-40)") {
    val (rc, out, _) = capture("list")
    assert(rc == 0)
    assert(out.linesIterator.toSeq.contains("echo"))
    assert(out.linesIterator.toSeq.contains("upcase_values"))
  }

  test("invoke argument gates, in the reference's order (aws-lambda.sh:25-34)") {
    val (rc1, _, err1) = capture("invoke")
    assert(rc1 == 1 && err1.contains("invoke requires second arg: lambda function name"))
    val (rc2, _, err2) = capture("invoke", "echo")
    assert(rc2 == 1 && err2.contains("invoke requires third arg: lambda payload json"))
    val (rc3, _, err3) = capture("invoke", "echo", "{not json")
    assert(rc3 == 1 && err3.contains("third arg json format invalid"))
    // the json gate exits WITHOUT help (aws-lambda.sh:33 is a bare exit 1)
    assert(!err3.contains("wrapper command"))
  }

  test("invoke happy path renders the two-header choreography (aws-lambda.sh:46-51)") {
    val (rc, out, _) = capture("invoke", "upcase_values", """{"a": "hi"}""")
    assert(rc == 0)
    assert(out.contains("AWS CLI Output:"))
    assert(out.contains("Lambda Response:"))
    assert(out.contains("\"HI\""))
  }

  test("workgroups renders the banner + fixed-width report choreography (aws-athena-workgroup.sh:8-58)") {
    val (rc, out, _) = capture("workgroups")
    assert(rc == 0)
    assert(out.contains("--- 🛠️ Athena ワークグループ設定の確認を開始します ---"))
    assert(out.contains("ワークグループ名"))
    assert(out.contains("primary"))
    assert(out.contains("設定なし (Default使用)"))
    assert(out.contains("--- ✅ 設定の抽出を完了しました ---"))
  }

  test("workgroups honors an injected ATHENA_WORKGROUP (non-primary branch)") {
    // the env lookup is a run() parameter (defaulting to sys.env), so
    // the non-primary registration path is drivable without mutating
    // the JVM environment
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    val outB = new ByteArrayOutputStream()
    val out = new PrintStream(outB, true, "UTF-8")
    val rc = Cli.run(Array("workgroups"), spark, out, out,
      Files.createTempDirectory("graft-cli-wg"),
      env = Map("ATHENA_WORKGROUP" -> "analytics_team").get)
    val rendered = outB.toString(StandardCharsets.UTF_8)
    assert(rc == 0)
    assert(rendered.contains("analytics_team"))
    assert(rendered.contains("primary")) // the default group still reports
  }

  test("invoke with an unknown function: error + rc 1") {
    val (rc, _, err) = capture("invoke", "no_such_fn", "{}")
    assert(rc == 1)
    assert(err.contains("Function not found: no_such_fn"))
  }
}
