package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.Tables
import graft.profile.TableProfiler
import graft.queries.Catalog

/** Driver contract — see SURVEY.md §7.
  *
  * The queries themselves live in [[graft.queries.Catalog]], one
  * `QueryDef` each; [[queries]] and [[oracleSql]] are views of it keyed
  * by name.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Tables.register(spark, "/root/testdata/sf0.001")
    TableProfiler.profileTable(spark, "lineitem")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(d => d.name -> d.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omits the non-SQL-expressible ops.
    */
  val oracleSql: Map[String, String] =
    Catalog.all.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** Build every family's persisted indexes for `sfDir` (idempotent).
    * Bench calls this in its untimed setup, same category as view
    * registration.
    */
  def prewarmIndexes(spark: SparkSession, sfDir: String): Unit = {
    Tables.register(spark, sfDir)
    Catalog.families.foreach(_.indexes.foreach(_(spark, sfDir)))
  }

  /** Force-build every family's shared frames for `sfDir`, returning
    * `(name, seconds)` per build. Bench records these as explicit
    * `setup_*` entries so the one-time construction cost (k-means
    * assignment, curation verdicts, DSIR weights, diff profiles) is
    * attributed in the artifact instead of hiding in an unrecorded
    * first run (ADVICE r6).
    */
  def buildSharedFrames(s: SparkSession, sfDir: String): Seq[(String, Double)] =
    Catalog.families.flatMap(_.setupFrames).map { case (name, build) =>
      val t0 = System.nanoTime()
      build(s, sfDir).queryExecution // materialize is eager; touch to be explicit
      (name, (System.nanoTime() - t0) / 1e9)
    }
}
