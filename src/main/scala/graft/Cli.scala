package graft

import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.exec.{QueryManager, QueryState, ResultSet, Share, TrinoDialect}
import graft.functions.FunctionRegistry
import graft.profile.TableDiff
import graft.render.TsvRenderer

/** The drop-in command dispatcher — the reference's two thin CLI
  * wrappers (/root/reference/aws-athena.sh:3-5,128-167 and
  * /root/reference/aws-lambda.sh:3-5,18-35) unified over this engine.
  * Positional parse (`COMMAND=$1; TARGET=$2; TARGET2=$3`), the same
  * command whitelist, the same per-command argument errors, and the
  * same help text shape; execution is delegated to the long-lived
  * components the specs already cover ([[graft.exec.QueryManager]],
  * [[graft.profile.TableDiff]], [[graft.functions.FunctionRegistry]]).
  *
  * Everything observable is parameterized for tests: out/err streams,
  * the working directory (where `vimdiff` drops
  * base_result.tsv/target_result.tsv, aws-athena.sh:194-195), and the
  * exit code is RETURNED by [[run]] — `main` is the only caller of
  * `sys.exit`, so a spec can drive every path in-process.
  */
object Cli {

  /** aws-athena.sh:11-20 (`help()`), with the lambda commands'
    * help folded in (aws-lambda.sh:7-15) — one dispatcher serves both
    * wrappers' command sets.
    */
  def helpText(prog: String): String =
    s"""
       |$prog ... aws athena wrapper command
       |
       |$prog query [query string] ... execution and get result the query
       |$prog file [.sql file] ... execution and get result from the .sql file
       |$prog vimdiff [Athena base catalog_name.database_name.table_name] [Athena compare target catalog_name.database_name.table_name] Compare tables first and second argument
       |
       |$prog ... aws lambda wrapper command
       |
       |$prog list ... list lambda functions
       |$prog invoke [lambda function name] [json format payload] ... invoke lambda function
       |
       |$prog workgroups ... workgroup configuration report
       |""".stripMargin

  val Commands: Set[String] =
    Set("query", "file", "vimdiff", "list", "invoke", "workgroups")

  private val Prog = "graft"

  /** Run one command. Returns the process exit code (0 ok, 1 error —
    * the reference's only two outcomes).
    *
    * @param workDir where `vimdiff` writes its two .tsv renders and
    *   `invoke` stages its transient response file.
    * @param env ambient environment lookup (`workgroups` reads
    *   ATHENA_WORKGROUP, aws-athena-workgroup.sh's selection rule).
    *   Injectable like out/err/workDir so specs can drive the
    *   non-primary branch without mutating the JVM environment.
    *
    * Every intermediate the command shares is released when it
    * returns (one [[graft.exec.Share.scope]] per command).
    */
  def run(args: Array[String], spark: SparkSession,
      out: PrintStream, err: PrintStream,
      workDir: Path = Paths.get("."),
      env: String => Option[String] = sys.env.get): Int =
    Share.scope(spark)(dispatch(args, spark, out, err, workDir, env))

  private def dispatch(args: Array[String], spark: SparkSession,
      out: PrintStream, err: PrintStream, workDir: Path,
      env: String => Option[String]): Int = {
    val command = args.headOption.getOrElse("")
    def arg(i: Int): String = if (args.length > i) args(i) else ""

    def help(): Int = { err.println(helpText(Prog)); 1 }

    // the whitelist gate, aws-athena.sh:129-132 / aws-lambda.sh:18-21
    if (!Commands.contains(command)) {
      err.println("COMMAND is required as 1st arg: query/file/vimdiff/list/invoke/workgroups")
      return help()
    }

    command match {
      case "query" =>
        if (arg(1).isEmpty) {
          err.println("Error: query requires second arg: query sentence")
          help()
        } else runQuery(spark, arg(1), out, err)

      case "file" =>
        // `[[ "$TARGET" != *.sql ]]` (aws-athena.sh:146-149) — the empty
        // second arg falls through to the same suffix error
        if (!arg(1).endsWith(".sql")) {
          err.println("Error: file requires second arg: .sql file")
          help()
        } else {
          val sql =
            try Files.readString(Paths.get(arg(1)))
            catch { case e: java.io.IOException =>
              err.println(s"Error reading file: ${e.getMessage}"); return 1 }
          runQuery(spark, sql, out, err)
        }

      case "vimdiff" =>
        if (arg(1).isEmpty || arg(2).isEmpty) {
          err.println("Error: vimdiff requires second and third arg: Athena database_name.table_name")
          help()
        } else if (!arg(1).contains(".") || !arg(2).contains(".")) {
          err.println("Error: Arguments must be in the format 'catalog_name.database_name.table_name' and contain dot (.)")
          help()
        } else {
          try {
            // the two rendered profile files the reference diffs
            // (aws-athena.sh:194-196); headless stand-in for the
            // interactive `vimdiff`: print the structured cell diff
            val (basePath, targetPath, diffs) = TableDiff.vimdiff(
              spark, arg(1), arg(2), workDir.toString)
            out.println(TsvRenderer.aligned(ResultSet.fromDataFrame(diffs)))
            out.println(s"wrote ${basePath.getFileName} ${targetPath.getFileName}")
            0
          } catch { case e: TableDiff.TableDiffException =>
            // aws-athena.sh:183-190 — per-side attribution, early exit
            err.println(e.getMessage)
            1
          }
        }

      case "list" =>
        // aws-lambda.sh:38-40: one function name per line
        FunctionRegistry.withBuiltins(Some(spark)).list.foreach(out.println)
        0

      case "workgroups" =>
        // aws-athena-workgroup.sh takes no arguments: banner, report
        // (or the empty warning, still rc 0 — line 22-25), banner
        out.println("--- 🛠️ Athena ワークグループ設定の確認を開始します ---")
        out.println()
        val registry = new graft.config.WorkGroupRegistry()
        env("ATHENA_WORKGROUP").filter(_ != "primary").foreach { n =>
          registry.register(graft.config.WorkGroup(n))
        }
        out.println(registry.report())
        out.println()
        out.println("--- ✅ 設定の抽出を完了しました ---")
        0

      case "invoke" =>
        if (arg(1).isEmpty) {
          err.println("invoke requires second arg: lambda function name")
          help()
        } else if (arg(2).isEmpty) {
          err.println("invoke requires third arg: lambda payload json")
          help()
        } else {
          val registry = FunctionRegistry.withBuiltins(Some(spark))
          try {
            // validation gate first (aws-lambda.sh:31-34): a bad payload
            // exits 1 with the exact message, WITHOUT help
            registry.compact(arg(2))
            val (_, rendered, _) = registry.invokeRendered(arg(1), arg(2), workDir)
            out.print(rendered)
            0
          } catch {
            case e: IllegalArgumentException => err.println(e.getMessage); 1
            case e: NoSuchElementException => err.println(e.getMessage); 1
          }
        }
    }
  }

  /** The `query`/`file` shared lifecycle (aws-athena.sh:23-61,140,155):
    * submit (echo the execution id), poll to terminal, fetch, render
    * `column -t`-aligned. User SQL is Trino-dialect like the
    * reference's Athena target, so it flows through
    * [[TrinoDialect.translate]] first.
    */
  private def runQuery(spark: SparkSession, sql: String,
      out: PrintStream, err: PrintStream): Int = {
    val qm = new QueryManager(spark)
    val id =
      try qm.submit(TrinoDialect.translate(sql))
      catch { case e: Exception =>
        // submit-time analysis failure ≙ the InvalidRequestException
        // grep at aws-athena.sh:29-32
        err.println(s"Error starting query execution: ${e.getMessage}")
        return 1
      }
    out.println(s"Query Execution ID: $id")
    qm.awaitTerminal(id) match {
      case QueryState.Succeeded =>
        out.println("Query succeeded. Fetching results...")
        out.println(TsvRenderer.aligned(qm.results(id)))
        0
      case QueryState.Failed(reason) =>
        // aws-athena.sh:50-53: message + StateChangeReason to stderr
        err.println("Query failed.")
        err.println(reason)
        1
      case _ =>
        err.println("Query was cancelled.")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.catalog.Tables.register(spark, sfDir)
    val rc = run(args, spark, System.out, System.err, Paths.get("."))
    spark.stop()
    sys.exit(rc)
  }
}
