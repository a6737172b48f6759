package graft.profile

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.exec.ResultSet
import graft.render.TsvRenderer

/** Two-table profile comparison — the reference's flagship `vimdiff`
  * workflow (/root/reference/aws-athena.sh:160-196): profile both
  * tables, render both as aligned text (`base_result.tsv` /
  * `target_result.tsv`, aws-athena.sh:194-195), and diff.
  *
  * The reference diffs *textually* (interactive vimdiff,
  * aws-athena.sh:196). We keep that rendered-text surface for fidelity
  * AND add what the text diff only approximates: a structured per-cell
  * comparison, as a relational full-outer join of the two long-form
  * profiles on (column_name, agg_type) — an engine-side improvement
  * the survey calls out (SURVEY.md §2.3). The join inputs are 8×N-row
  * aggregates at any data scale, so the join runs on the driver
  * ([[diffFrom]]).
  */
object TableDiff {

  /** A profile failure attributed to one side of the diff, with the
    * reference's exact per-table message (aws-athena.sh:183-190 —
    * "second argument" = base table, "third argument" = target).
    */
  final class TableDiffException(val argumentOrdinal: String,
      val table: String, cause: Throwable)
    extends RuntimeException(
      s"Failed on the table provided as the $argumentOrdinal argument.", cause)

  /** Builds one side's long profile, wrapping any failure (missing
    * table, no numeric columns, malformed name) with the side's
    * attribution. The reference detects failure at query execution;
    * here Spark's analysis surfaces the same classes of error at plan
    * construction — same observable attribution, earlier.
    */
  private def profileSide(spark: SparkSession, table: String,
      ordinal: String): (Seq[String], DataFrame) =
    try {
      val df = graft.catalog.Tables.table(spark, table)
      (TableProfiler.numericColumns(df.schema), TableProfiler.profileLong(df))
    } catch { case e: Exception => throw new TableDiffException(ordinal, table, e) }

  /** Structured diff: one row per (column_name, agg_type) in either
    * profile, with both values and an equality verdict. NULL-vs-NULL
    * is equal (<=> semantics). Fails fast on the base (second
    * argument) before touching the target (third), like the
    * reference's early exit.
    */
  def diff(spark: SparkSession, baseTable: String, targetTable: String): DataFrame =
    diffFrom(profileSide(spark, baseTable, "second")._2,
      profileSide(spark, targetTable, "third")._2)

  /** [[diff]] over two PRECOMPUTED long profiles — the reference's
    * actual workflow shape (profile both tables, THEN diff the
    * results, aws-athena.sh:183-196): a pipeline that has already
    * materialized the per-table profiles diffs them here without
    * re-profiling. Inputs are `(column_name, agg_type, result)`
    * relations ([[TableProfiler.profileLong]]'s shape).
    *
    * The result is what a full-outer join on (column_name, agg_type)
    * ordered by both keys returns, merged on the driver over the
    * collected ≤ 8×N rows per side (a Spark join and sort of them
    * would cost a job and two exchanges per call); `equal` is Spark's own
    * `<=>` over that LocalRelation, so NaN, -0.0 and NULL compare as
    * Spark compares them. A NULL key matches nothing.
    */
  def diffFrom(baseLong: DataFrame, targetLong: DataFrame): DataFrame = {
    def rows(long: DataFrame) =
      long.select("column_name", "agg_type", "result").collect().toSeq
    def key(r: Row) = (r.getString(0), r.getString(1))
    def keyed(r: Row) = !r.isNullAt(0) && !r.isNullAt(1)
    val base = rows(baseLong)
    val target = rows(targetLong)
    val targetByKey = target.filter(keyed).groupBy(key)
    val baseKeys = base.filter(keyed).map(key).toSet
    val merged = base.flatMap { b =>
      val matches = if (keyed(b)) targetByKey.getOrElse(key(b), Nil) else Nil
      if (matches.isEmpty) Seq(Row(b(0), b(1), b(2), null))
      else matches.map(t => Row(b(0), b(1), b(2), t(2)))
    } ++ target.filterNot(t => keyed(t) && baseKeys(key(t)))
      .map(t => Row(t(0), t(1), null, t(2)))
    val order = TableProfiler.sparkStringOrder
    val sorted = merged.sortBy(key)(Ordering.Tuple2(order, order))
    val schema = StructType(Seq(
      StructField("column_name", StringType, nullable = true),
      StructField("agg_type", StringType, nullable = true),
      StructField("base_result", baseLong.schema("result").dataType, nullable = true),
      StructField("target_result", targetLong.schema("result").dataType, nullable = true)))
    baseLong.sparkSession.createDataFrame(sorted.asJava, schema)
      .withColumn("equal", col("base_result") <=> col("target_result"))
  }

  /** Only the differing cells (empty ⇔ profiles identical). */
  def differences(spark: SparkSession, baseTable: String, targetTable: String): DataFrame =
    diff(spark, baseTable, targetTable).filter(!col("equal"))

  /** The reference's whole `vimdiff` (aws-athena.sh:183-196) over ONE
    * profile per side: writes the two aligned-text renders
    * (`base_result.tsv` / `target_result.tsv`, aws-athena.sh:194-195)
    * and returns their paths with the [[differences]] of the same two
    * profiles. outDir stands in for the reference's CWD.
    */
  def vimdiff(spark: SparkSession, baseTable: String, targetTable: String,
      outDir: String): (Path, Path, DataFrame) = {
    Files.createDirectories(Paths.get(outDir))
    def side(table: String, file: String, ordinal: String): (Path, DataFrame) = {
      val (cols, long) = profileSide(spark, table, ordinal)
      val text = TsvRenderer.aligned(
        ResultSet.fromDataFrame(TableProfiler.wide(long, cols)))
      val p = Paths.get(outDir, file)
      Files.writeString(p, text + "\n")
      (p, long)
    }
    // base fully renders (and fails) before the target — the
    // reference's sequential get_query_results ordering
    val (basePath, baseLong) = side(baseTable, "base_result.tsv", "second")
    val (targetPath, targetLong) = side(targetTable, "target_result.tsv", "third")
    (basePath, targetPath, diffFrom(baseLong, targetLong).filter(!col("equal")))
  }
}
