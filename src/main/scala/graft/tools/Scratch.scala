package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc timing/debugging harness (not part of the library surface;
  * rewrite freely — see the memory notes for the listener pattern,
  * and PLANS.md for how plan dumps were generated).
  *
  * Current form: `runMain graft.tools.Scratch q_name...` dumps each
  * named query's sf0.01 result to /tmp/graft_scratch/<name> for a
  * one-query DuckDB compare (tools/selfcheck.py reads the same
  * layout if pointed at the dir).
  */
object Scratch {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[scratch] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SCRATCH_SPLIT", "8m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val explain = sys.env.contains("SCRATCH_EXPLAIN")
    // one Share.scope per query (see Bench.once())
    for (q <- args) graft.exec.Share.scope(spark) {
      println(s"===== $q =====")
      if (explain)
        println(graft.SparkEntry.queries(q)(spark, sf)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      else if (sys.env.contains("SCRATCH_NOOP"))
        // bench-identical timing: coalesce(1) would collapse a
        // shuffle-free pipeline into ONE task and serialize it
        time(q) {
          graft.SparkEntry.queries(q)(spark, sf)
            .write.format("noop").mode("overwrite").save()
        }
      else time(q) {
        graft.SparkEntry.queries(q)(spark, sf).coalesce(1)
          .write.mode("overwrite").parquet(s"/tmp/graft_scratch/$q")
      }
    }
    // Filtered oracle dump so `tools/selfcheck.py <sf> /tmp/graft_scratch`
    // compares exactly the queries just written — only in the
    // parquet-dump mode (explain/noop never create the directory, and
    // the dump is meaningless without the parquet next to it).
    if (args.nonEmpty && !explain && !sys.env.contains("SCRATCH_NOOP")) {
      def esc(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      val json = graft.SparkEntry.oracleSql.filter(kv => args.contains(kv._1))
        .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/tmp/graft_scratch/oracle_sql.json"), json)
    }
    if (args.isEmpty)
      time("entry smoke")(graft.SparkEntry.entry(spark).count())
  }
}
