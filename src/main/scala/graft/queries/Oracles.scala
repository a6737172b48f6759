package graft.queries

/** DuckDB-dialect oracle SQL builders, twinned 1:1 with the Spark
  * queries in [[SparkEntry.queries]]. The driver executes these against
  * the same parquet tables and hash-compares (SURVEY.md §5).
  *
  * Portability rules used throughout (so Spark parquet output and
  * DuckDB in-memory results hash-match):
  *  - every computed column is aliased identically on both sides;
  *  - double sums accumulate in exact DECIMAL on both sides (double
  *    addition is order-dependent; decimal is exact) — (18,6) for
  *    bounded measures, (27,6) for the profiler's value envelope;
  *  - visible doubles are `round(x, 5)`;
  *  - counts stay BIGINT, or are cast to double on both sides;
  *  - explicit ORDER BY on a deterministic key on both sides.
  */
object Oracles {

  /** The 8 profile statistics as DuckDB SQL over column `c` of
    * `table` — the oracle twin of TableProfiler.exactLong. Order
    * matches TableProfiler.aggLabels (`1. count` … `8. sum`,
    * /root/reference/aws-athena.sh:81-100).
    *
    * Mean/std/sum mirror the engine's partitioning-independent
    * definitions exactly (TableProfiler.exactLong scaladoc):
    *  - sum/mean from the exact `decimal(27,6)` sum, displayed via
    *    integer HALF-AWAY-FROM-ZERO at 5 decimals (su6 = scale-6
    *    integer units; double round() diverges across engines on the
    *    exact .5×10⁻⁵ ties these quantized sums produce);
    *  - std is the two-pass form around the unrounded mean, with each
    *    squared deviation quantized before the exact sum (identical
    *    per-row doubles → identical quantization → order-independent
    *    equality) at a range-adaptive scale: 10⁻¹² for column ranges
    *    ≤ 10⁷, 10⁰ to 3·10¹³, dd/10¹² beyond (wide surrogate keys);
    *  - median interpolates like Spark's Percentile, which
    *    `quantile_cont` matches.
    */
  def duckStats(c: String, table: String): Seq[String] = {
    // HUGEINT, not BIGINT: key-column sums × 10⁶ exceed 2⁶³ at large
    // scale (mirrors the Spark side's decimal(38,0) su6).
    // decimal(27,6), not (18,6): the per-value envelope is |v| < 10²¹
    // on both sides (ADVICE r11 — the Spark twin loud-guards it;
    // DuckDB's cast throws on its own past the width).
    val su6 = s"cast(sum(cast($c as decimal(27,6))) * 1000000 as hugeint)"
    val sign = s"(CASE WHEN sum(cast($c as decimal(27,6))) < 0 THEN -1.0 ELSE 1.0 END)"
    // EXACT hugeint floor division, twin of the Spark side's
    // exact-decimal HALF_UP quotient: the earlier ::DOUBLE division
    // rounded the 10²²-scale numerator 1 ulp high on the sf0.1
    // wide-key mean's exact k.5 tie and floored to k+1 while Spark
    // landed on k — quotients ≥ 2⁵² must never pass through a double.
    def r5(b: String) =
      s"$sign * ((abs($su6) * 2 + ($b)) // (($b) * 2))::DOUBLE / 100000.0"
    val meanRaw =
      s"(SELECT cast(sum(cast($c as decimal(27,6))) as double) / count($c) FROM $table)"
    val dev = s"(cast($c as double) - $meanRaw)"
    // Range-adaptive squared-deviation quantization, the exact twin of
    // TableProfiler.exactLong pass 2 — THREE regimes: scale 12 for
    // ranges ≤ 10⁷, scale 0 to 3·10¹³, and dd/10¹² at scale 0 beyond
    // (×10¹² on the way out) so 13-17-digit surrogate keys neither
    // overflow nor lose visible precision. The range gates sit INSIDE
    // each sum (DuckDB evaluates all aggregates regardless of an
    // outer CASE, so an unguarded fine sum would overflow on coarse
    // columns).
    val rangeBig =
      s"(SELECT max(cast($c as double)) - min(cast($c as double)) > 10000000.0 FROM $table)"
    val rangeUltra =
      s"(SELECT max(cast($c as double)) - min(cast($c as double)) > 30000000000000.0 FROM $table)"
    val s2f = s"sum(CASE WHEN $rangeBig THEN NULL ELSE cast($dev * $dev as decimal(27,12)) END)"
    val s2c = s"sum(CASE WHEN $rangeBig AND NOT $rangeUltra THEN cast($dev * $dev as decimal(27,0)) ELSE NULL END)"
    val s2u = s"sum(CASE WHEN $rangeUltra THEN cast($dev * $dev / 1000000000000.0 as decimal(27,0)) ELSE NULL END)"
    Seq(
      s"cast(count($c) as double)",
      s"cast(count(distinct $c) as double)",
      r5(s"count($c) * 10"),
      s"CASE WHEN count($c) > 1 THEN round(sqrt(coalesce(cast($s2f as double), cast($s2c as double), cast($s2u as double) * 1000000000000.0) / (count($c) - 1)), 5) END",
      s"round(cast(min($c) as double), 5)",
      s"round(quantile_cont($c, 0.5), 5)",
      s"round(cast(max($c) as double), 5)",
      r5("10"))
  }

  /** Wide (pivoted) profile: 8 UNION ALL'd single-row aggregates — the
    * same shape the reference's generated query produces after its
    * map_agg pivot (aws-athena.sh:112-122), ordered by agg_type.
    */
  def profilePivot(table: String, cols: Seq[String]): String = {
    val selects = TableProfilerLabels.labels.zipWithIndex.map { case (label, j) =>
      val cells = cols.map(c => s"${duckStats(c, table)(j)} AS $c").mkString(", ")
      s"SELECT '$label' AS agg_type, $cells FROM $table"
    }
    selects.mkString("", " UNION ALL ", " ORDER BY agg_type")
  }

  /** Long-form profile `(column_name, agg_type, result)` — the
    * reference's UNION ALL relation (aws-athena.sh:80-110).
    */
  def profileLong(table: String, cols: Seq[String]): String = {
    val selects = for {
      c <- cols
      (label, j) <- TableProfilerLabels.labels.zipWithIndex
    } yield s"SELECT '$c' AS column_name, '$label' AS agg_type, ${duckStats(c, table)(j)} AS result FROM $table"
    selects.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name, agg_type")
  }

  /** Structured profile diff — twin of TableDiff.diff: full-outer
    * join of two long-form profiles on (column_name, agg_type), with
    * a null-safe equality verdict (`IS NOT DISTINCT FROM` ≙ Spark's
    * `<=>`).
    */
  def profileDiff(baseTable: String, baseCols: Seq[String],
      targetTable: String, targetCols: Seq[String]): String = {
    s"""WITH b AS (${profileLong(baseTable, baseCols)}),
       |t AS (${profileLong(targetTable, targetCols)})
       |SELECT coalesce(b.column_name, t.column_name) AS column_name,
       |  coalesce(b.agg_type, t.agg_type) AS agg_type,
       |  b.result AS base_result, t.result AS target_result,
       |  (b.result IS NOT DISTINCT FROM t.result) AS equal
       |FROM b FULL OUTER JOIN t
       |  ON b.column_name = t.column_name AND b.agg_type = t.agg_type
       |ORDER BY column_name, agg_type""".stripMargin
  }

  /** information_schema.columns fixture rows for a table whose schema
    * is known (FIXTURES.md §B) — a literal VALUES oracle.
    */
  def infoSchemaValues(table: String, colTypes: Seq[(String, String)]): String = {
    val rows = colTypes.zipWithIndex.map { case ((name, dt), i) =>
      s"('spark_catalog', 'default', '$table', '$name', ${i + 1}, CAST(NULL AS varchar), 'YES', '$dt')"
    }.mkString(", ")
    s"SELECT * FROM (VALUES $rows) AS t(table_catalog, table_schema, table_name, " +
      "column_name, ordinal_position, column_default, is_nullable, data_type) " +
      "ORDER BY ordinal_position"
  }

  /** Same VALUES fixture filtered by the numeric-type regex
    * (aws-athena.sh:68) — oracle for the profiler's column-selection
    * step.
    */
  def numericFilterValues(table: String, colTypes: Seq[(String, String)]): String = {
    val rows = colTypes.zipWithIndex.map { case ((name, dt), i) =>
      s"('$table', '$name', ${i + 1}, '$dt')"
    }.mkString(", ")
    s"SELECT table_name, column_name, data_type FROM (VALUES $rows) AS " +
      "t(table_name, column_name, ordinal_position, data_type) " +
      "WHERE regexp_matches(data_type, '^(tinyint|smallint|integer|bigint|real|double|decimal.*)$') " +
      "ORDER BY ordinal_position"
  }
}

/** Labels split out so Oracles has no Spark dependency (usable from
  * plain tooling).
  */
object TableProfilerLabels {
  val labels: Seq[String] = Seq(
    "1. count", "2. count_distinct", "3. mean", "4. std",
    "5. min", "6. median", "7. max", "8. sum")
}
