package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.tools.Harness
import graft.tools.Harness.{json, obj}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (tools/selfcheck.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...] — with query
  * names, only those outputs and their oracle SQL are written. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val spark = Harness.session()
    try run(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Writes `names` (every query when empty) under `outDir`. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val picked =
      if (names.isEmpty) SparkEntry.queries.toSeq
      else names.map(n => n -> Harness.query(n))
    new java.io.File(outDir).mkdirs()
    // A throwing query must leave a LOUD artifact: analysis-broken
    // queries were once simply absent from the correctness report
    // because this loop only printed to stderr. Every failure lands in
    // _errors.json next to oracle_sql.json, so "no parquet" can never
    // read as "pass".
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    picked.foreach { case (name, fn) =>
      // one Share.scope per query: a later query embedding an identical
      // subplan must exercise its own plan, not read this query's blocks
      try graft.exec.Share.scope(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        errors(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    val oracles =
      if (names.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(oracles.map { case (k, v) => k -> json(v) }))
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      obj(errors.map { case (k, v) => k -> json(v) }))
    // Exit 0 even on failures: a non-zero exit could make the driver
    // skip the DuckDB compare for the queries that DID succeed. The
    // red signal is _errors.json (always written, empty {} when green)
    // plus the stderr banner.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} QUERIES FAILED: ${errors.keys.mkString(", ")}")
  }
}
