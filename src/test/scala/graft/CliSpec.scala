package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.TestSpark.jobsOf
import graft.exec.ResultSet
import org.apache.spark.sql.DataFrame
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

  /** Spark jobs of one successful `Cli.run query`. */
  private def queryJobs(sql: String): Int = {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    val errB = new ByteArrayOutputStream()
    var rc = -1
    val jobs = jobsOf {
      rc = Cli.run(Array("query", sql), spark, new PrintStream(new ByteArrayOutputStream()),
        new PrintStream(errB, true, "UTF-8"), Files.createTempDirectory("graft-cli-jobs"))
    }
    assert(rc == 0, errB.toString(StandardCharsets.UTF_8))
    jobs
  }

  private def assertOrderByAddsNoJob(unsorted: String, orderBy: String): Unit = {
    val (sorted, plain) = (queryJobs(unsorted + " " + orderBy), queryJobs(unsorted))
    assert(plain > 0, "no job counted: the listener saw nothing")
    assert(sorted == plain, s"$sorted jobs with `$orderBy`, $plain without")
  }

  test("a root ORDER BY over a GROUP BY runs the jobs of the same statement without it") {
    assertOrderByAddsNoJob(
      "select o_orderpriority, count(*) as n, sum(o_totalprice) as total " +
        "from orders group by o_orderpriority",
      "order by total desc, o_orderpriority")
  }

  test("a root ORDER BY over a key slice runs the jobs of the same statement without it") {
    assertOrderByAddsNoJob(
      "select o_orderkey, o_custkey, o_totalprice, o_orderdate from orders " +
        "where o_orderkey >= 100 and o_orderkey < 4000",
      "order by o_orderkey")
  }

  /** What `ResultSet.fromDataFrame` returned before a root ORDER BY was
    * finished at the client edge: the stringified frame's plain collect,
    * whose ORDER BY is a sampled range shuffle and a sort stage. */
  private def rangeSorted(df: DataFrame): ResultSet = {
    val rows = ResultSet.stringify(df).collect().toSeq
      .map(r => r.toSeq.map(v => if (v == null) "" else v.toString))
    ResultSet(df.columns.toSeq, rows)
  }

  /** A parquet-backed view over three files (three scan partitions, so
    * the top-K merges across tasks) of NaN, ±0.0, ±Infinity, NULLs,
    * decimals, dates, timestamps and non-ASCII strings; `id` is unique. */
  private lazy val trickyView: String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("d", DoubleType),
      StructField("dec", DecimalType(10, 2)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("s", StringType),
      StructField("g", StringType)))
    def row(id: Int, d: java.lang.Double, dec: String, dt: String, ts: String,
        s: String, g: String) = Row(id, d,
      Option(dec).map(new java.math.BigDecimal(_)).orNull,
      Option(dt).map(java.sql.Date.valueOf).orNull,
      Option(ts).map(java.sql.Timestamp.valueOf).orNull, s, g)
    val rows = Seq(
      row(1, Double.NaN, "1.50", "2024-01-03", "2024-01-03 10:00:00", "zebra", "a"),
      row(2, -0.0, "-2.25", "1999-12-31", "1999-12-31 23:59:59.999999", "Äpfel", "b"),
      row(3, 0.0, null, null, null, "apple", "a"),
      row(4, Double.PositiveInfinity, "100.00", "2024-01-03", "2024-01-03 10:00:00", "Apple", "c"),
      row(5, Double.NegativeInfinity, "1.50", "1970-01-01", "1970-01-01 00:00:00", "日本", "b"),
      row(6, null, "0.00", "2000-02-29", "2000-02-29 12:00:00", null, "a"),
      row(7, 2.5, "-2.25", "2024-01-03", "2024-01-03 10:00:00.5", "éclair", "c"),
      row(8, Double.NaN, "99.99", "1900-01-01", "1900-01-01 00:00:00", "eclair", "b"),
      row(9, -1e-300, null, "2024-12-31", null, "", "a"),
      row(10, 1e300, "0.01", null, "2024-06-01 00:00:00", "Zebra", null),
      row(11, 0.0, "1.50", "2024-01-03", "2024-01-03 10:00:00", "ß", "c"),
      row(12, -0.0, "100.00", "1999-12-31", null, "APPLE", "a"),
      row(13, null, null, "2024-01-03", "2024-01-03 10:00:00", "日本", null))
    val dir = Files.createTempDirectory("graft-topk").resolve("tricky").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(3).write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("topk_tricky")
    "topk_tricky"
  }

  test("a root ORDER BY renders what the range sort rendered, over a total order") {
    val t = trickyView
    assert(spark.table(t).queryExecution.toRdd.getNumPartitions >= 2)
    val directions = Seq("ASC NULLS FIRST", "ASC NULLS LAST", "DESC NULLS FIRST", "DESC NULLS LAST")
    val statements =
      (for (k <- Seq("d", "dec", "dt", "ts", "s"); dir <- directions)
        yield s"SELECT id, $k FROM $t ORDER BY $k $dir, id") ++ Seq(
        s"SELECT id, s FROM $t ORDER BY s COLLATE UTF8_LCASE, id DESC",
        s"SELECT s, id, d FROM $t ORDER BY 1 DESC, 2",
        s"SELECT id, d, dec FROM $t ORDER BY dec * 2 - id DESC, id",
        s"SELECT s, g FROM $t ORDER BY ts DESC, id",
        s"SELECT DISTINCT g, dec FROM $t ORDER BY g NULLS LAST, dec DESC",
        s"SELECT id, s FROM $t UNION ALL SELECT id + 100, g FROM $t ORDER BY s, id")
    for (sql <- statements) {
      val df = spark.sql(sql)
      assert(ResultSet.topK(df).isDefined, s"not finished as a top-K: $sql")
      val expected = rangeSorted(df)
      assert(expected.rows.size > 1, sql)
      assert(ResultSet.fromDataFrame(df) == expected, sql)
    }
  }

  test("LIMIT, OFFSET, inner, VALUES, one-row and unsorted statements keep the plain collect") {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    val statements = Seq(
      "select o_orderkey, o_totalprice from orders order by o_totalprice desc, o_orderkey limit 5",
      "select o_orderkey from orders order by o_orderkey offset 1490",
      "with c as (select o_orderkey, o_custkey from orders order by o_orderkey) " +
        "select * from c where o_custkey < 40",
      "select * from (select o_orderkey, o_custkey from orders order by o_custkey, o_orderkey) " +
        "where o_custkey < 40",
      "select * from values (3, 'c'), (1, 'a'), (2, 'b') as v(k, s) order by k",
      "select count(*) as n from orders order by n",
      "select o_orderkey from orders sort by o_orderkey",
      "select o_orderkey, o_orderstatus from orders where o_orderkey < 200")
    for (sql <- statements) {
      val df = spark.sql(sql)
      assert(ResultSet.topK(df).isEmpty, s"finished as a top-K: $sql")
      var expected, actual: ResultSet = null
      val plain = jobsOf { expected = rangeSorted(df) }
      val edge = jobsOf { actual = ResultSet.fromDataFrame(df) }
      assert(edge == plain, s"$edge jobs against $plain: $sql")
      assert(actual == expected, sql)
    }
  }

  test("a warm repeat of a root-sorted query compiles nothing") {
    val sql = "select o_orderpriority, count(*) as n, sum(o_totalprice) as total " +
      "from orders group by o_orderpriority order by total desc, o_orderpriority"
    val (first, _, _) = capture("query", sql)
    assert(first == 0)
    val ((rc, _, err), compiles) = graft.tools.Harness.compiled(capture("query", sql))
    assert(rc == 0, err)
    assert(compiles == 0, s"$compiles classes compiled on a repeat")
  }

  test("a warm repeat of a vimdiff compiles nothing") {
    graft.catalog.Tables.register(spark, TestSpark.sfDir)
    spark.sql(
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey = 3 THEN n_regionkey + 1 ELSE n_regionkey END AS n_regionkey
        |FROM nation""".stripMargin).createOrReplaceTempView("nation_perturbed")
    def vimdiff(): Int = Cli.run(
      Array("vimdiff", "spark_catalog.default.nation", "spark_catalog.default.nation_perturbed"),
      spark, new PrintStream(new ByteArrayOutputStream()), System.err,
      Files.createTempDirectory("graft-cli-vimdiff"))
    assert(vimdiff() == 0)
    val (rc, compiles) = graft.tools.Harness.compiled(vimdiff())
    assert(rc == 0)
    assert(compiles == 0, s"$compiles classes compiled on a repeat")
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
