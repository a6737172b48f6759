package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{InfoSchema, Tables}
import graft.profile.TableProfiler
import Common._

/** The table profiler (wide, long, approximate), its diff, and
  * information_schema scans — the reference's own generated SQL
  * (aws-athena.sh:64-125, 175-196).
  */
object ProfileQueries extends QueryFamily {

  private val lineitem = "lineitem"

  /** lineitem schema fixture (FIXTURES.md) in Trino type names — used
    * only to author the VALUES-literal oracles for the metadata
    * queries; the Spark side reads the real catalog.
    */
  private val lineitemTypes: Seq[(String, String)] = Seq(
    "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
    "l_suppkey" -> "bigint", "l_linenumber" -> "integer",
    "l_quantity" -> "double", "l_extendedprice" -> "double",
    "l_discount" -> "double", "l_tax" -> "double",
    "l_returnflag" -> "varchar", "l_linestatus" -> "varchar",
    "l_shipdate" -> "timestamp(3)")

  private val lineitemNumeric = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private val ordersNumeric = Seq("o_orderkey", "o_custkey", "o_totalprice")
  // c_acctbal goes negative — exercises the profiler's sign handling
  // in the exact display rounding against the real oracle
  private val customerNumeric = Seq("c_custkey", "c_nationkey", "c_acctbal")
  private val eventsNumeric = Seq("event_id", "user_id", "value")
  // q_profile_wide_keys' relation: a wide-range key next to a
  // fine-regime column
  private val wideKeyExprs = Seq("l_orderkey * 1000000 AS wide_key", "l_quantity")
  // q_profile_diff's base and target tables
  private val (diffBase, diffTarget) = (lineitem, "orders")
  private val diffTables = Seq(diffBase, diffTarget)

  private def wideProfile(name: String, table: String, numeric: Seq[String]): QueryDef =
    QueryDef(name, withTables(TableProfiler.profileTable(_, table)),
      Some(Oracles.profilePivot(table, numeric)))

  // Long profiles shared by the DIFF composition only (the reference's
  // own workflow profiles both tables, then diffs the results —
  // aws-athena.sh:183-196). The per-table q_profile_* queries keep
  // computing their own profiles so the bench keeps measuring the
  // profiler operator itself. A long profile is already a driver-side
  // LocalRelation, so it is kept as is, not checkpointed.
  private[graft] def profileLongShared(s: SparkSession, sfDir: String,
      table: String): DataFrame =
    sharedFrames.getOrElseUpdate(
      (s.sparkContext.applicationId, s"profile_long_$table", sfDir),
      TableProfiler.profileLong(Tables.table(s, table)))

  override val setupFrames = diffTables.map(t => s"setup_profile_long_$t" ->
    ((s: SparkSession, sfDir: String) => profileLongShared(s, sfDir, t)))

  val defs: Seq[QueryDef] = Seq(
    // §2.4/§3.2 — the flagship profiler, wide (pivoted) and long forms.
    wideProfile("q_profile_lineitem", lineitem, lineitemNumeric),
    QueryDef("q_profile_lineitem_long", withTables { s =>
      TableProfiler.profileLong(s.table(lineitem))
        .orderBy("column_name", "agg_type")
    }, Some(Oracles.profileLong(lineitem, lineitemNumeric))),
    wideProfile("q_profile_orders", "orders", ordersNumeric),
    // §2.4 — exact profile of a WIDE-RANGE surrogate-key column
    // (range ≫ 10⁷): pins the profiler's coarse std-quantization
    // regime and the decimal(38,0) su6 display path in the oracle
    // gate at sf0.01 — the envelope the sf1 sweep overflowed is now
    // correctness-checked every round, next to a fine-regime column
    // in the same profile so both branches hash in one query.
    QueryDef("q_profile_wide_keys", withTables { s =>
      TableProfiler.profileLong(s.table(lineitem).selectExpr(wideKeyExprs: _*))
        .orderBy("column_name", "agg_type")
    }, Some(Oracles.profileLong(
      s"(SELECT ${wideKeyExprs.mkString(", ")} FROM $lineitem) AS t",
      Seq("wide_key", "l_quantity")))),
    wideProfile("q_profile_customer", "customer", customerNumeric),
    // §2.4 — profile over a NULL-bearing numeric column (events.value
    // is nullable): count/distinct/sum skip nulls identically in both
    // engines; the value-counts relation simply has no row for null.
    wideProfile("q_profile_events", "events", eventsNumeric),
    // §2.1/§1.1 — information_schema.columns scan with the reference's
    // conjunctive WHERE (aws-athena.sh:175-176).
    QueryDef("q_infoschema_lineitem", withTables { s =>
      InfoSchema.columnsOf(s, "spark_catalog", "default", lineitem)
        .orderBy("ordinal_position")
    }, Some(Oracles.infoSchemaValues(lineitem, lineitemTypes))),
    // §2.2 — numeric-type regex predicate (aws-athena.sh:68).
    QueryDef("q_infoschema_numeric_filter", withTables { s =>
      InfoSchema.columnsOf(s, "spark_catalog", "default", lineitem)
        .filter(col("data_type").rlike(graft.catalog.TrinoTypes.NumericTypeRegex))
        .orderBy("ordinal_position")
        .select("table_name", "column_name", "data_type")
    }, Some(Oracles.numericFilterValues(lineitem, lineitemTypes))),
    // §3.2 — the vimdiff flagship as a structured relational diff
    // (full-outer join of two long profiles; SURVEY.md §2.3). Reads
    // the shared long profiles, built once per session — the
    // reference's own workflow profiles both tables THEN diffs the
    // results, so the diff is a composition of reports, not a third
    // profiling pass.
    QueryDef("q_profile_diff", withTablesSf { (s, sfDir) =>
      graft.profile.TableDiff.diffFrom(
        profileLongShared(s, sfDir, diffBase),
        profileLongShared(s, sfDir, diffTarget))
    }, Some(Oracles.profileDiff(
      diffBase, lineitemNumeric, diffTarget, ordersNumeric))),
    // §4 scale path — sketch-based profile (approx_count_distinct +
    // percentile_approx); rows-only check (approximate by construction).
    QueryDef("q_profile_approx", withTables { s =>
      TableProfiler.approxProfile(s.table(lineitem))
    }, None),
    // §8.3 — oracle-checkable gate for the sketch profile above:
    // exact per-column facts (one value-counts shuffle, never
    // Expand×N) + the ExtSpec envelopes as hashed booleans.
    QueryDef("q_profile_approx_check", withTables { s =>
      TableProfiler.approxProfileCheck(s.table(lineitem))
    }, Some(lineitemNumeric.sorted.map { c =>
      s"""SELECT '$c' AS col_name, count($c)::BIGINT AS n_rows,
         |  count(DISTINCT cast($c AS DOUBLE))::BIGINT AS n_distinct,
         |  true AS approx_distinct_ok, true AS median_in_range
         |FROM $lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))))
}
